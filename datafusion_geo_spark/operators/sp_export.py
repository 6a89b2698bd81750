"""SentencePiece-compatible tokenizer-artifact export (r10 verdict
item 6): the BPE trainer (operators/bpe.py) and the unigram-LM trainer
(operators/unigram.py) end at engine frames / driver-side fitted
lists; a training pipeline ships a FILE. This module writes the two
public interchange formats and reads them back:

* ``<model>.vocab`` — SentencePiece's text vocabulary: one
  ``piece<TAB>score`` line per piece, score printed with 6 fixed
  decimals (the library's std::to_string rendering). For the unigram
  model the score IS the fitted log-probability (score_micro / 1e6 —
  micro precision survives the text round-trip exactly).
* ``merges.txt`` — the BPE merge list, one ``left right`` pair per
  line in rank order (the GPT-2 / HuggingFace interchange format;
  SentencePiece's .vocab alone cannot reconstruct merge ORDER, so the
  merge file is the functional artifact for BPE).

Deviation from stock SentencePiece, documented: no U+2581 word-
boundary marker — the engine's tokenizers are word-level (the corpus
is whitespace pre-split by ``words_col`` before any sub-word step), so
pieces never span a word boundary and the marker would be dead weight.
Pieces therefore never contain whitespace, which is what makes both
text formats unambiguous.

All artifacts are VOCAB-sized (alphabet + capped multi-char pieces /
``rounds`` merges), never corpus-sized: driver-side file writes are
the correct scale here, the same bounded-artifact rule as the fitted
model collects (similarity.py:206-214 discipline).
"""

from __future__ import annotations

import os
from typing import List, Sequence, Tuple


def sp_vocab_unigram(
        fitted: Sequence[Tuple[str, int, int]]) -> List[Tuple[str, float]]:
    """(piece, score) rows for a fitted unigram model
    [(piece, cnt, score_micro)]: score = score_micro / 1e6 (the fitted
    ln-probability), rows in the fit's own (cnt desc, piece asc)
    order — deterministic for a deterministic fit."""
    return [(p, sm / 1e6) for p, _cnt, sm in fitted]


def write_sp_vocab(rows: Sequence[Tuple[str, float]], path: str) -> str:
    """Write ``piece<TAB>score`` lines (UTF-8, 6 fixed decimals) to
    ``path``; returns the path. Pieces must be whitespace-free (the
    word-level contract above) — violations raise rather than write an
    unparseable file."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        for piece, score in rows:
            if piece == "" or any(ch.isspace() for ch in piece):
                raise ValueError(
                    f"write_sp_vocab: piece {piece!r} contains "
                    "whitespace / is empty — not representable in the "
                    "tab-separated vocab format")
            f.write(f"{piece}\t{score:.6f}\n")
    os.replace(tmp, path)
    return path


def read_sp_vocab(path: str) -> List[Tuple[str, float]]:
    """Parse a ``piece<TAB>score`` vocab file back to rows, in file
    order. Exact inverse of :func:`write_sp_vocab` at micro (1e-6)
    precision — ``round(score * 1e6)`` recovers the written micro-int
    bit-for-bit."""
    out: List[Tuple[str, float]] = []
    with open(path, encoding="utf-8") as f:
        for ln in f:
            ln = ln.rstrip("\n")
            if not ln:
                continue
            piece, score = ln.split("\t", 1)
            out.append((piece, float(score)))
    return out


def write_bpe_merges(merges: Sequence[Tuple[str, str, str]],
                     path: str) -> str:
    """Write the merge list as ``left right`` lines in rank order (the
    merges.txt interchange format); returns the path."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        for left, right, _merged in merges:
            for side in (left, right):
                if side == "" or any(ch.isspace() for ch in side):
                    raise ValueError(
                        f"write_bpe_merges: token {side!r} contains "
                        "whitespace / is empty — not representable in "
                        "the space-separated merges format")
            f.write(f"{left} {right}\n")
    os.replace(tmp, path)
    return path


def read_bpe_merges(path: str) -> List[Tuple[str, str, str]]:
    """Parse merges.txt back to ordered (left, right, merged) triples —
    the exact input shape of :func:`operators.bpe.bpe_apply` /
    ``tokenizer_stats``."""
    out: List[Tuple[str, str, str]] = []
    with open(path, encoding="utf-8") as f:
        for ln in f:
            ln = ln.rstrip("\n")
            if not ln or ln.startswith("#"):
                continue
            left, right = ln.split(" ", 1)
            out.append((left, right, left + right))
    return out


def unigram_fitted_from_vocab(
        rows: Sequence[Tuple[str, float]]) -> List[Tuple[str, int, int]]:
    """Rebuild the (piece, cnt, score_micro) fitted-model shape the
    Viterbi encoder consumes from exported vocab rows. cnt is not in
    the artifact (the encoder only reads piece + score) and comes back
    as 0."""
    return [(p, 0, int(round(s * 1e6))) for p, s in rows]
