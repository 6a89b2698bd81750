"""Byte-Pair-Encoding merge training — distributed tokenizer training.

Classic BPE (Sennrich et al. 2016) trains on the WORD-FREQUENCY
DICTIONARY, not the raw corpus: the corpus collapses once into
(distinct word, count) — a partial+final hash aggregate whose output is
Zipf-bounded — and every merge round then works on that small dict.
This is the right 100-TB shape: the only corpus-sized pass is the word
count; each of the ``rounds`` iterations is (1) a bigram-count shuffle
over the dict, (2) a top-1 collect (ONE row — the same bounded
driver sync as a Lloyd centroid step), (3) a map-side re-tokenization
fold. No step touches the raw corpus again.

Everything is deterministic and engine-portable: ties on pair counts
break lexicographically on the pair string, and the greedy
left-to-right merge is an explicit fold (Spark ``F.aggregate`` with an
array accumulator; the DuckDB oracle replays the same fold with
``list_reduce``), so both engines produce identical merge tables.

ASCII-fixture caveat (shared with the repo's other string oracles):
the internal pair separator is chr(31); tokens containing that byte
would mis-split. The documents fixture is printable ASCII.
"""

from __future__ import annotations

from typing import List, Tuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .text import words_col
from .util import memo_get

SEP = "\x1f"


def _bigrams(toks: Column) -> Column:
    """Adjacent-pair strings 'a<SEP>b'; zip_with pads the shorter slice
    with null and concat null-propagates, so the trailing slot drops in
    the caller's isNotNull filter."""
    return F.zip_with(
        toks,
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(SEP), b))


def merge_fold(toks: Column, left: str, right: str, merged: str) -> Column:
    """Greedy left-to-right BPE merge of one pair: fold the token array
    into an accumulator, replacing the accumulator tail when it is
    ``left`` and the incoming token is ``right`` (a just-merged token
    never re-matches ``left``, which is exactly BPE's greedy scan)."""
    return F.aggregate(
        toks,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, v: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (v == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(merged))))
        .otherwise(F.concat(acc, F.array(v))))


def bpe_train(docs: DataFrame, text_col: str = "text",
              rounds: int = 8) -> DataFrame:
    """Learn ``rounds`` BPE merges from a document corpus. Returns the
    merge table (merge_rank int, left_tok, right_tok, merged string,
    pair_count long) — the artifact a tokenizer ships.

    Each round's dict state is eagerly localCheckpoint-ed: the top-1
    collect forces the compute anyway, and checkpointing keeps the
    fold expressions from nesting ``rounds`` deep in one Catalyst tree
    while releasing the previous round's plan."""
    if rounds < 1:
        raise ValueError(f"bpe_train: rounds must be >= 1, got {rounds}")
    spark = docs.sparkSession
    vocab = (docs.select(F.explode(words_col(F.col(text_col))).alias("w"))
             .where(F.col("w") != "")
             .groupBy("w").agg(F.count(F.lit(1)).alias("n")))
    cur = (vocab.select("n", F.split(F.col("w"), "").alias("toks"))
           .localCheckpoint(eager=True))
    merges: List[Tuple[int, str, str, str, int]] = []
    for r in range(rounds):
        pairs = (cur.select("n", F.explode(_bigrams(F.col("toks")))
                            .alias("p"))
                 .where(F.col("p").isNotNull())
                 .groupBy("p").agg(F.sum("n").alias("cnt")))
        top = (pairs.orderBy(F.col("cnt").desc(), F.col("p").asc())
               .limit(1).collect())
        if not top:
            break
        p, cnt = top[0]["p"], top[0]["cnt"]
        left, right = p.split(SEP)
        merged = left + right
        merges.append((r, left, right, merged, int(cnt)))
        nxt = (cur.select("n", merge_fold(F.col("toks"), left, right,
                                          merged).alias("toks"))
               .localCheckpoint(eager=True))
        cur.unpersist()
        cur = nxt
    cur.unpersist()
    return spark.createDataFrame(
        merges, "merge_rank int, left_tok string, right_tok string, "
                "merged string, pair_count long")


#: process-level memo of trained merge tables, keyed by
#: (caller-supplied corpus key, text_col, rounds) — the
#: similarity._CENTROID_CACHE discipline (r4 verdict item 5: fit once,
#: reuse). A merge table is `rounds` small tuples while the fit costs
#: one corpus pass + `rounds` dict shuffles; bpe_merges / bpe_encode /
#: tokenizer_fertility share one fit per session through this.
_MERGE_CACHE: dict = {}


def _key_fingerprint(cache_key) -> tuple:
    """Augment path-shaped key elements with (mtime_ns, size) so a
    corpus rewritten IN PLACE within one process (e.g. a reused tmp
    dir across test fixtures) misses the memo instead of silently
    serving a stale fit (r8 ADVICE). For directories the newest direct
    child is folded in (parquet rewrites touch the files, and often
    not the dir). Non-path elements pass through unchanged."""
    import os

    def fp(el):
        if isinstance(el, (tuple, list)):
            return tuple(fp(x) for x in el)
        if isinstance(el, str) and os.path.exists(el):
            st = os.stat(el)
            stamp = (st.st_mtime_ns, st.st_size)
            if os.path.isdir(el):
                kids = [os.path.join(el, f) for f in os.listdir(el)]
                stamp += (max((os.stat(k).st_mtime_ns for k in kids),
                              default=0),)
            return (el, stamp)
        return el
    return fp(cache_key)


def bpe_train_cached(docs: DataFrame, text_col: str = "text",
                     rounds: int = 8, cache_key=None) -> list:
    """:func:`bpe_train` collected to its merge-tuple list
    [(merge_rank, left, right, merged, pair_count)], with a
    process-level memo. ``cache_key`` must identify the corpus (e.g.
    ``(sf_dir, "documents")``) — the caller owns that contract; None
    disables caching. Path-shaped key elements are fingerprinted with
    their mtime/size (:func:`_key_fingerprint`), so in-place rewrites
    of the corpus invalidate the memo. The fit is deterministic, so a
    cache hit is bit-identical to a refit."""
    def fit():
        return [(r["merge_rank"], r["left_tok"], r["right_tok"],
                 r["merged"], r["pair_count"])
                for r in bpe_train(docs, text_col, rounds)
                .orderBy("merge_rank").collect()]
    if cache_key is None:
        return fit()
    key = (_key_fingerprint(cache_key), text_col, rounds)
    return memo_get(_MERGE_CACHE, key, fit)


def tokenizer_stats(docs: DataFrame, merges: List[Tuple[str, str, str]],
                    text_col: str = "text",
                    lang_col: str = "lang") -> DataFrame:
    """Per-language tokenizer-quality table — the standard
    tokenizer-selection report: fertility (BPE tokens per word) and
    byte coverage (share of word bytes inside multi-char learned
    merges; the chars == bytes equality is the repo's ASCII-fixture
    convention) for a learned merge list.

    100 TB shape — dictionary-encode, never tokenize the corpus twice:
    the merge folds run once per DISTINCT word (the Zipf-bounded dict),
    the corpus-sized pass is a (lang, word) partial+final count, and
    the two meet in a dict-sized equi-join weighted by the counts.
    Ratios are exact-int64 half-up micro values via
    (2·num·1e6 + den) div (2·den), so cross-engine replay is
    bit-identical (envelope: num <= ~4.6e12 tokens per language keeps
    2·num·1e6 inside int64).

    Returns one row per language: (lang, n_docs, n_words, n_tokens,
    n_chars, fertility_micro, coverage_micro)."""
    words = words_col(F.col(text_col))
    occ = (docs.where(F.col(lang_col).isNotNull())
           .select(F.col(lang_col).alias("lang"),
                   F.explode(words).alias("w"))
           .where(F.col("w") != ""))
    lw = occ.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))

    toks = F.split(F.col("w"), "")
    for left, right, merged in merges:
        toks = merge_fold(toks, left, right, merged)
    wstats = (lw.select("w").distinct()
              .select("w",
                      toks.alias("toks"),
                      F.length("w").cast("long").alias("wchars"))
              .select("w", "wchars",
                      F.size("toks").cast("long").alias("wtoks"),
                      F.aggregate(
                          "toks", F.lit(0),
                          lambda acc, t: acc + F.when(
                              F.length(t) >= 2, F.length(t))
                          .otherwise(F.lit(0))).cast("long").alias("cov")))

    agg = (lw.join(wstats, "w")
           .groupBy("lang")
           .agg(F.sum("cnt").cast("long").alias("n_words"),
                F.sum(F.col("cnt") * F.col("wtoks")).cast("long")
                .alias("n_tokens"),
                F.sum(F.col("cnt") * F.col("cov")).cast("long")
                .alias("covered_chars"),
                F.sum(F.col("cnt") * F.col("wchars")).cast("long")
                .alias("n_chars")))
    nd = (docs.where(F.col(lang_col).isNotNull())
          .groupBy(F.col(lang_col).alias("lang"))
          .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    return (nd.join(agg, "lang")
            .select("lang", "n_docs", "n_words", "n_tokens", "n_chars",
                    F.expr("CAST((2*n_tokens*1000000 + n_words) DIV "
                           "(2*n_words) AS LONG)").alias("fertility_micro"),
                    F.expr("CAST((2*covered_chars*1000000 + n_chars) DIV "
                           "(2*n_chars) AS LONG)").alias("coverage_micro")))


def tokenizer_selection_stats(docs: DataFrame,
                              merges: List[Tuple[str, str, str]],
                              variants: Tuple[int, ...] = (2, 4, 8),
                              text_col: str = "text",
                              lang_col: str = "lang") -> DataFrame:
    """:func:`tokenizer_stats` swept over nested merge budgets — the
    fertility/coverage-vs-vocab-size elbow table a merge count is
    chosen from. BPE merge lists are prefix-nested, so variant n is
    simply ``merges[:n]`` of one shared fit.

    Scale shape: the corpus-sized (lang, word) count runs ONCE and is
    localCheckpoint-ed (dict-sized: |langs| × distinct words,
    Zipf-bounded), and every variant's fold + join runs against that
    materialized dict — a naive per-variant tokenizer_stats union
    would re-pay the corpus pass |variants| times. Returns one row per
    (n_merges, lang): (n_merges, lang, n_tokens, fertility_micro,
    coverage_micro), the same exact-int64 half-up micros as
    tokenizer_stats."""
    occ = (docs.where(F.col(lang_col).isNotNull())
           .select(F.col(lang_col).alias("lang"),
                   F.explode(words_col(F.col(text_col))).alias("w"))
           .where(F.col("w") != ""))
    lw = (occ.groupBy("lang", "w")
          .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
          .localCheckpoint(eager=True))
    dw = lw.select("w").distinct()

    out = None
    for n in variants:
        toks = F.split(F.col("w"), "")
        for left, right, merged in merges[:n]:
            toks = merge_fold(toks, left, right, merged)
        wstats = (dw.select("w", toks.alias("toks"),
                            F.length("w").cast("long").alias("wchars"))
                  .select("w", "wchars",
                          F.size("toks").cast("long").alias("wtoks"),
                          F.aggregate(
                              "toks", F.lit(0),
                              lambda acc, t: acc + F.when(
                                  F.length(t) >= 2, F.length(t))
                              .otherwise(F.lit(0))).cast("long")
                          .alias("cov")))
        agg = (lw.join(wstats, "w")
               .groupBy("lang")
               .agg(F.sum("cnt").cast("long").alias("n_words"),
                    F.sum(F.col("cnt") * F.col("wtoks")).cast("long")
                    .alias("n_tokens"),
                    F.sum(F.col("cnt") * F.col("cov")).cast("long")
                    .alias("covered_chars"),
                    F.sum(F.col("cnt") * F.col("wchars")).cast("long")
                    .alias("n_chars"))
               .select(F.lit(int(n)).cast("int").alias("n_merges"),
                       "lang", "n_tokens",
                       F.expr("CAST((2*n_tokens*1000000 + n_words) DIV "
                              "(2*n_words) AS LONG)")
                       .alias("fertility_micro"),
                       F.expr("CAST((2*covered_chars*1000000 + n_chars) "
                              "DIV (2*n_chars) AS LONG)")
                       .alias("coverage_micro")))
        out = agg if out is None else out.unionAll(agg)
    return out


def tokenizer_report(docs: DataFrame, merges: List[Tuple[str, str, str]],
                     variants: Tuple[int, ...] = (2, 4, 8),
                     text_col: str = "text",
                     lang_col: str = "lang") -> DataFrame:
    """End-to-end tokenizer-choice report — the table a merge budget
    actually ships from, composing the selection sweep with the
    language-difficulty eval: per language, pick the SMALLEST variant
    whose byte coverage reaches 95% of the largest variant's (the
    elbow rule, pure int64: 100·cov ≥ 95·ref_cov — no float
    thresholds), and carry that variant's fertility/coverage next to
    the language's interpolated-KN bigram perplexity
    (text.kn_bigram_perplexity_by) so cheap-to-tokenize but
    hard-to-model languages stand out.

    Scale shape: the sweep is tokenizer_selection_stats (ONE corpus
    pass, dict-sized variants); the elbow rule runs over its
    |langs|×|variants|-row output (localCheckpoint'ed so the
    three references replay the tiny table, not the folds); the KN
    eval adds its own two grouped corpus passes; everything meets in
    |langs|-row broadcast joins. Output one row per language:
    (lang, sel_merges, n_tokens, fertility_micro, coverage_micro,
    ppl_micro, n_test_bigrams)."""
    from .text import kn_bigram_perplexity_by
    sel = tokenizer_selection_stats(docs, merges, variants,
                                    text_col, lang_col) \
        .localCheckpoint(eager=True)
    nmax = max(variants)
    ref = (sel.where(F.col("n_merges") == nmax)
           .select("lang", F.col("coverage_micro").alias("ref_cov")))
    pick = (sel.join(F.broadcast(ref), "lang")
            .where(F.lit(100) * F.col("coverage_micro")
                   >= F.lit(95) * F.col("ref_cov"))
            .groupBy("lang")
            .agg(F.min("n_merges").cast("int").alias("sel_merges"))
            # break lineage with sel so the equi-join below is not an
            # ambiguous self-join (pick descends from sel)
            .select(F.col("lang").alias("_plang"), "sel_merges"))
    chosen = (sel.join(F.broadcast(pick),
                       (sel["lang"] == pick["_plang"])
                       & (sel["n_merges"] == pick["sel_merges"]))
              .select(sel["lang"], pick["sel_merges"], sel["n_tokens"],
                      sel["fertility_micro"], sel["coverage_micro"]))
    ppl = (kn_bigram_perplexity_by(docs, lang_col, text_col, "doc_id")
           .select(F.col(lang_col).alias("lang"), "ppl_micro",
                   "n_test_bigrams"))
    return (chosen.join(F.broadcast(ppl), "lang", "left")
            .select("lang", "sel_merges", "n_tokens", "fertility_micro",
                    "coverage_micro", "ppl_micro", "n_test_bigrams"))


def bpe_apply(df: DataFrame, text_col: str,
              merges: List[Tuple[str, str, str]],
              out_col: str = "bpe_tokens") -> DataFrame:
    """Tokenize ``text_col`` with a learned merge list (ordered
    (left, right, merged) triples): char-split each word, then fold the
    merges in rank order — pure map-side column expressions, no
    shuffle, the standard 'apply the shipped tokenizer' pass."""
    words = words_col(F.col(text_col))
    def encode(word: Column) -> Column:
        toks = F.split(word, "")
        for left, right, merged in merges:
            toks = merge_fold(toks, left, right, merged)
        return toks
    return df.withColumn(
        out_col,
        F.transform(F.filter(words, lambda w: w != ""), encode))
