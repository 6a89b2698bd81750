"""Model/dataset evaluation statistics, histogram-shaped for scale.

Both operators here reduce a corpus-sized column to a HISTOGRAM over
quantized values first (one partial+final grouped aggregate — the only
corpus-wide shuffle), then run the order-dependent part (cumulative
ranks / CDF sweep) over the histogram rows. With a quantized score the
histogram is bounded (dozens-to-thousands of rows, independent of
corpus size), so the single-partition ordered window over it is O(1)
at the 100 TB design point — the same shape a GROUP BY rollup of a
bounded dimension takes.

Engine-exactness discipline: scores/values are quantized to int64
BEFORE aggregation, every count/rank identity is integer arithmetic
(tie-aware average ranks carried as 2x-scaled ints so .5 ranks stay
exact), and only the final ratio is a double divide of exact int64s,
rounded with the repo's 6-dp half-up convention — the DuckDB oracle
replays it bit-for-bit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

__all__ = ["auc_exact", "ks_stat", "ks_from_hist", "pearson_corr",
           "hist_quantiles", "quantiles_from_hist", "categorical_drift",
           "cat_drift_from_hist", "cohen_kappa", "embedding_drift",
           "mcc_multiclass", "average_precision", "ece_from_scores",
           "ece_from_hist", "ece_bin_col", "spearman_overlap",
           "kendall_overlap", "rrf_fuse", "rrf_weights_micro",
           "f1_per_class", "js_unigram_divergence", "adjusted_rand",
           "krippendorff_alpha", "bleu_corpus", "js_unigram_divergence_flagged", "word_error_rate", "chrf_corpus"]


def _r6(col):
    """6-dp round-half-up on the scaled value (house convention)."""
    return (F.signum(col) * F.floor(F.abs(col) * F.lit(1e6) + F.lit(0.5))
            / F.lit(1e6) + F.lit(0.0))


def auc_exact(scored: DataFrame, score_col: str, label_col: str,
              group_cols: tuple = ()) -> DataFrame:
    """Exact tie-aware ROC-AUC (Mann-Whitney rank-sum form) of an
    integer-quantized score against a 0/1 label. ONE row out (or one
    per group with ``group_cols``): p_total, n_total, rank2_pos (2x
    the rank-sum of positives, exact int64), and auc (6-dp; NULL for
    a degenerate group with no positives or no negatives).

    Identity used: with the histogram bucket i holding n_i rows
    (p_i positive) and C_i rows in strictly-smaller buckets, every row
    of the bucket gets average rank C_i + (n_i + 1)/2, so
    2*sum(rank of positives) = sum_i p_i * (2*C_i + n_i + 1) — all
    int64. AUC = (rank2_pos - P*(P+1)) / (2*P*N).

    Scale shape: the corpus pass is groupBy(group, score) with
    map-side combine; the cumulative window then runs over DISTINCT
    quantized scores only (bounded by the quantization grid, not the
    corpus) — and with groups it is partitioned BY group, so the
    sort parallelism scales with group count."""
    gc = list(group_cols)
    hist = (scored
            .groupBy(*gc, score_col)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col(label_col).cast("long")).alias("npos")))
    w = Window.partitionBy(*gc) if gc else Window.partitionBy()
    w = (w.orderBy(score_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = hist.withColumn(
        "c_before", F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long"))
    aggs = [
        F.sum("npos").cast("long").alias("p_total"),
        F.sum(F.col("n") - F.col("npos")).cast("long").alias("n_total"),
        F.sum(F.col("npos")
              * (F.lit(2) * F.col("c_before") + F.col("n") + F.lit(1)))
         .cast("long").alias("rank2_pos")]
    agg = cum.groupBy(*gc).agg(*aggs) if gc else cum.agg(*aggs)
    num = (F.col("rank2_pos")
           - F.col("p_total") * (F.col("p_total") + F.lit(1)))
    den = F.lit(2) * F.col("p_total") * F.col("n_total")
    auc = F.when(den > 0, _r6(num.cast("double") / den.cast("double")))
    return agg.select(*gc, "p_total", "n_total", "rank2_pos",
                      auc.alias("auc"))


def ks_stat(df: DataFrame, value_col: str, group_col: str,
            side_a: str, side_b: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the
    integer-quantized ``value_col`` distributions of two groups — the
    drift audit a pipeline runs between dataset versions / splits.
    ONE row out: n_a, n_b, d_num (max |F_a - F_b| cross-multiplied to
    int64: max |cumA*n_b - cumB*n_a|), and ks (6-dp d_num/(n_a*n_b)).

    Same scale shape as auc_exact: corpus pass = one grouped count per
    (value) with per-side conditional sums; the CDF sweep is an
    ordered window over distinct quantized values (bounded), and the
    max collapses to one row."""
    sided = df.where(F.col(group_col).isin(side_a, side_b))
    hist = (sided.groupBy(value_col)
            .agg(F.sum(F.when(F.col(group_col) == side_a, 1)
                        .otherwise(0)).cast("long").alias("na_i"),
                 F.sum(F.when(F.col(group_col) == side_b, 1)
                        .otherwise(0)).cast("long").alias("nb_i")))
    return ks_from_hist(hist, value_col)


def ks_from_hist(hist: DataFrame, value_col: str) -> DataFrame:
    """The CDF sweep + max from a (value, na_i, nb_i) histogram — the
    shared tail of ks_stat and the streaming drift monitor (ONE
    definition, so the integer identities and rounding can never
    desynchronize from the oracle replay). ``hist`` may come from a
    batch groupBy or from a completed streaming aggregate's state
    table; the sweep itself runs over histogram rows only.

    Totals ride as a FULL-FRAME window over the histogram (not a
    crossJoin against a re-aggregation): the histogram is derived from
    a corpus-wide pass, and a second reference to it would re-run that
    pass — one window over bounded rows keeps the corpus scan
    single."""
    w = (Window.orderBy(value_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy().rowsBetween(Window.unboundedPreceding,
                                          Window.unboundedFollowing)
    joined = (hist
              .withColumn("ca", F.sum("na_i").over(w).cast("long"))
              .withColumn("cb", F.sum("nb_i").over(w).cast("long"))
              .withColumn("n_a", F.sum("na_i").over(wt).cast("long"))
              .withColumn("n_b", F.sum("nb_i").over(wt).cast("long")))
    agg = joined.agg(
        F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"),
        F.max(F.abs(F.col("ca") * F.col("n_b")
                    - F.col("cb") * F.col("n_a"))).alias("d_num"))
    ks = _r6(F.col("d_num").cast("double")
             / (F.col("n_a") * F.col("n_b")).cast("double"))
    return agg.select("n_a", "n_b", "d_num", ks.alias("ks"))


def pearson_corr(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Pearson correlation of two INTEGER-quantized columns with
    engine-exact arithmetic: the corpus pass is one partial+final
    aggregate of exact int64 moments (n, Sx, Sy, Sxy, Sxx, Syy); the
    closed form runs once on the single output row. The two variance
    terms are cast to double BEFORE their product (each fits int64,
    their product does not); sqrt and the final divide are IEEE
    correctly-rounded, so the 6-dp result replays bit-for-bit.

    Overflow envelope (the mlfit.py Gram note): micro-int inputs
    |x| <= ~4e5 keep n*Sxy inside int64 up to ~1e7 rows; beyond that,
    scale the quantization down — the CONTRACT (exact integer moments,
    one aggregate) is the scale-relevant part. ONE row out:
    (n_rows, cov_num, varx_num, vary_num, corr)."""
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    agg = df.agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum(x).alias("sx"), F.sum(y).alias("sy"),
                 F.sum(x * y).alias("sxy"),
                 F.sum(x * x).alias("sxx"),
                 F.sum(y * y).alias("syy"))
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = cov.cast("double") / F.sqrt(vx.cast("double") * vy.cast("double"))
    return agg.select(F.col("n").alias("n_rows"),
                      cov.cast("long").alias("cov_num"),
                      vx.cast("long").alias("varx_num"),
                      vy.cast("long").alias("vary_num"),
                      _r6(r).alias("corr"))


def hist_quantiles(df: DataFrame, value_col: str,
                   percents: tuple = (50, 90, 99),
                   group_cols: tuple = ()) -> DataFrame:
    """Quantiles from the quantized-value histogram — the bounded-state
    companion to the exact buffering percentile (value_quantiles): the
    corpus pass is one grouped count (mergeable: histograms of two
    corpora just add), and each requested percentile is the SMALLEST
    value whose cumulative count reaches ceil(p/100 * N) — the 'lower'
    interpolation, chosen because the rank test ``100*cum >= p*N`` is
    pure int64 comparison, no division, no float anywhere. ONE row out:
    (n_total, p<p1>, p<p2>, ...).

    This is the shape that replaces exact percentile at 100 TB: state
    is the quantization grid, the sweep is histogram-sized, and the
    sketch merges by addition across partitions/batches.

    With ``group_cols``, one row per group: the cumulative and total
    windows PARTITION BY group (no cross join at all), so the sweep
    parallelism scales with group count."""
    gc = list(group_cols)
    hist = (df.groupBy(*gc, value_col)
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    picks = [F.min(F.when(F.lit(100) * F.col("cum")
                          >= F.lit(int(p)) * F.col("n_total"),
                          F.col(value_col))).alias(f"p{int(p)}")
             for p in percents]
    if gc:
        wc = (Window.partitionBy(*gc).orderBy(value_col)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        wt = (Window.partitionBy(*gc)
              .rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing))
        j = (hist.withColumn("cum", F.sum("cnt").over(wc).cast("long"))
             .withColumn("n_total", F.sum("cnt").over(wt).cast("long")))
        return j.groupBy(*gc).agg(F.max("n_total").alias("n_total"),
                                  *picks)
    return quantiles_from_hist(hist, value_col, percents)


def quantiles_from_hist(hist: DataFrame, value_col: str,
                        percents: tuple = (50, 90, 99)) -> DataFrame:
    """The rank-test tail from a (value, cnt) histogram — the shared
    tail of hist_quantiles and the streaming quantile monitor (the
    ks_from_hist pattern: ONE definition, so the integer rank test can
    never desynchronize from its oracle replay). ``hist`` may be a
    batch groupBy or a completed streaming aggregate's state table."""
    picks = [F.min(F.when(F.lit(100) * F.col("cum")
                          >= F.lit(int(p)) * F.col("n_total"),
                          F.col(value_col))).alias(f"p{int(p)}")
             for p in percents]
    w = (Window.orderBy(value_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy().rowsBetween(Window.unboundedPreceding,
                                          Window.unboundedFollowing)
    # totals as a full-frame window, not a crossJoin against a
    # re-aggregation — one corpus pass, see ks_from_hist
    j = (hist.withColumn("cum", F.sum("cnt").over(w).cast("long"))
         .withColumn("n_total", F.sum("cnt").over(wt).cast("long")))
    return j.agg(F.max("n_total").alias("n_total"), *picks)


def categorical_drift(df: DataFrame, cat_col: str,
                      side_col: str) -> DataFrame:
    """Categorical distribution drift between two samples — Pearson's
    chi-squared homogeneity statistic plus the Population Stability
    Index, the industry pair next to :func:`ks_stat`'s continuous test
    (chi2/PSI watch a label/category mix — source, language, event
    type — across dataset versions; KS watches a value distribution).

    ``side_col`` is an int column: 1 = sample A, 0 = sample B. The
    corpus collapses to ONE per-category histogram (na_i, nb_i) —
    the only corpus-wide shuffle; totals ride as full-frame windows
    over the bounded histogram (the ks_from_hist pattern).

    Engine-exact arithmetic:
      - chi2 via the homogeneity identity
        chi2 = N · Σ_i d_i²/((na_i+nb_i)·NA·NB), d_i = na_i·NB − nb_i·NA
        — d_i is exact int64, squared and divided in doubles (each
        factor cast BEFORE multiplying, the pearson_corr envelope),
        each term micro-rounded BEFORE the sum (fold-order free);
      - PSI with add-1 Laplace smoothing over the category count C
        (zero-proof): Σ_i (pa_i−pb_i)·ln(pa_i/pb_i),
        pa_i = (na_i+1)/(NA+C) — same per-term micro rounding, ln under
        the libm-parity contract.

    ONE row out: (n_cats, n_a, n_b, chi2_micro, psi_micro)."""
    hist = (df.groupBy(F.col(cat_col).alias("cat"))
            .agg(F.sum(F.col(side_col)).cast("long").alias("na_i"),
                 F.sum(F.lit(1) - F.col(side_col)).cast("long")
                 .alias("nb_i")))
    return cat_drift_from_hist(hist)


def cat_drift_from_hist(hist: DataFrame) -> DataFrame:
    """The chi2/PSI tail from a (cat, na_i, nb_i) histogram — the
    shared tail of :func:`categorical_drift` and the streaming label-
    mix monitor (the ks_from_hist pattern: ONE definition so the
    identities and rounding never desynchronize from the oracle).
    ``hist`` may come from a batch groupBy or a completed streaming
    aggregate's state table."""
    wt = Window.partitionBy().rowsBetween(Window.unboundedPreceding,
                                          Window.unboundedFollowing)
    h = (hist.withColumn("n_a", F.sum("na_i").over(wt).cast("long"))
         .withColumn("n_b", F.sum("nb_i").over(wt).cast("long"))
         .withColumn("c", F.count(F.lit(1)).over(wt).cast("long")))
    d = (F.col("na_i") * F.col("n_b")
         - F.col("nb_i") * F.col("n_a")).cast("double")
    chi_t = (d * d) / ((F.col("na_i") + F.col("nb_i")).cast("double")
                       * F.col("n_a").cast("double")
                       * F.col("n_b").cast("double"))
    pa = ((F.col("na_i") + F.lit(1)).cast("double")
          / (F.col("n_a") + F.col("c")).cast("double"))
    pb = ((F.col("nb_i") + F.lit(1)).cast("double")
          / (F.col("n_b") + F.col("c")).cast("double"))
    psi_t = (pa - pb) * F.log(pa / pb)

    def micro(col):
        return (F.signum(col) * F.floor(F.abs(col) * F.lit(1e6)
                                        + F.lit(0.5))).cast("long")

    # chi terms are nonnegative (d²/positive), so they carry NO sign
    # handling and can ride at NANO (1e9) fixed point: rounding each
    # term at micro and THEN multiplying the sum by N amplified the
    # per-term half-ulp linearly in N (r7 ADVICE #3 — several whole
    # chi² units at N=1e6). The micro-scaled output comes from the
    # exact int64 identity
    #   N·nano/1000 = N·(nano div 1000) + (N·(nano mod 1000) + 500) div 1000
    # (half-up, every intermediate exact). Envelope: chi² <= N for a
    # 2×k table, so Σnano <= 1e9 and N·(nano div 1000) <= N·1e6 — the
    # same int64 headroom the previous micro code had.
    def nano_nonneg(col):
        return F.floor(col * F.lit(1e9) + F.lit(0.5)).cast("long")

    agg = h.agg(
        F.max("c").alias("n_cats"),
        F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"),
        F.sum(nano_nonneg(chi_t)).alias("chi_nano"),
        F.sum(micro(psi_t)).alias("psi_micro"))
    return agg.select(
        "n_cats", "n_a", "n_b",
        F.expr("CAST((n_a + n_b) * (chi_nano DIV 1000) + "
               "((n_a + n_b) * (chi_nano % 1000) + 500) DIV 1000 "
               "AS LONG)").alias("chi2_micro"),
        F.col("psi_micro").cast("long").alias("psi_micro"))


def cohen_kappa(conf: DataFrame, true_col: str, pred_col: str,
                n_col: str = "n_docs") -> DataFrame:
    """Cohen's kappa from a confusion-matrix frame (true, pred, n) —
    chance-corrected agreement, the one-number summary a classifier
    change is judged by next to the raw confusion matrix (accuracy
    alone rewards majority-class collapse; kappa ~0 exposes it).

    Exact-integer identity: with N = total, T = trace, and
    PE = Σ_label row_total · col_total,
        kappa = (N·T − PE) / (N² − PE)
    — numerator/denominator exact int64 (envelope: N <= ~3e9 keeps N²
    inside int64; the confusion matrix itself is |labels|² rows, so
    every aggregate here is driver-trivial), the final divide a 6-dp
    double. NULL when N² = PE (degenerate single-cell matrix).
    ONE row out: (n_total, trace, pe_num, kappa)."""
    n = F.col(n_col).cast("long")
    t = conf.agg(
        F.sum(n).cast("long").alias("n_total"),
        F.sum(F.when(F.col(true_col) == F.col(pred_col), n)
              .otherwise(F.lit(0))).cast("long").alias("trace"))
    r = (conf.groupBy(F.col(true_col).alias("lbl"))
         .agg(F.sum(n).cast("long").alias("rn")))
    c = (conf.groupBy(F.col(pred_col).alias("lbl"))
         .agg(F.sum(n).cast("long").alias("cn")))
    m = (r.join(c, "lbl", "full")
         .agg(F.sum(F.coalesce(F.col("rn"), F.lit(0))
                    * F.coalesce(F.col("cn"), F.lit(0)))
              .cast("long").alias("pe_num")))
    j = t.crossJoin(F.broadcast(m))
    num = (F.col("n_total") * F.col("trace") - F.col("pe_num"))
    den = (F.col("n_total") * F.col("n_total") - F.col("pe_num"))
    kappa = F.when(den != 0,
                   _r6(num.cast("double") / den.cast("double")))
    return j.select("n_total", "trace", "pe_num", kappa.alias("kappa"))


def rbo_weights_micro(k: int = 10, p: float = 0.9) -> list:
    """RBO@k per-pair weight table (Webber et al. 2010, truncated
    form): W[m] = micro(Σ_{d=m..k} p^(d-1)/d) — the total agreement
    contribution of a result pair whose LATER appearance is at depth
    m = max(rank_a, rank_b). Computed ONCE here in plain python and
    inlined as integer literals on BOTH engines, so the geometric
    series never exists as cross-engine float arithmetic."""
    import math
    out = []
    for m in range(1, k + 1):
        s = 0.0
        for d in range(m, k + 1):
            s = s + (p ** (d - 1)) / d
        out.append(int(math.floor(abs(s) * 1e6 + 0.5)))
    return out


def rbo_overlap(a: DataFrame, b: DataFrame, k: int = 10,
                p: float = 0.9) -> DataFrame:
    """Rank-biased overlap between two per-query top-k rankings —
    the IR-standard top-weighted similarity of result lists (recall
    counts set agreement; RBO rewards agreeing EARLY, the metric that
    actually tracks user-facing ANN quality). Inputs: two
    (query_id, neighbor_id, rank<=k) frames; output per a-side query:
    (query_id, n_common, rbo in [0, ~1]).

    Identity used: truncated RBO@k = (1-p) Σ_d p^(d-1)·|A_d ∩ B_d|/d
    re-grouped per common pair as Σ_pairs W[max(ra, rb)] with the
    precomputed micro-int table :func:`rbo_weights_micro` — per-pair
    weights are integer literals, the per-query sum is exact int64,
    and the final (1-p)·sum scaling STAYS in integers: with
    inv = 1/(1-p) an exact integer (asserted), the 6-dp half-away
    result is rbo_micro = (wsum + inv//2) // inv, so the only double
    op on either engine is the identical rbo_micro / 1e6 divide.
    (Round 8 lesson: Spark's ``1.0 - 0.9`` double and DuckDB's
    DECIMAL ``(1.0 - 0.9)`` differ by 1 ulp, tipping every
    wsum ≡ inv/2 (mod inv) across the rounding boundary.) One
    equi-join on (query, neighbor) + one k-row-bounded grouped sum."""
    inv = round(1.0 / (1.0 - p))
    if inv % 2 or abs(1.0 / (1.0 - p) - inv) > 1e-9:
        raise ValueError(
            f"rbo_overlap requires 1/(1-p) to be an exact even integer "
            f"for exact micro-int scaling; got p={p}")
    W = rbo_weights_micro(k, p)
    wmap = F.map_from_arrays(
        F.array(*[F.lit(m) for m in range(1, k + 1)]),
        F.array(*[F.lit(w) for w in W]))
    ra = a.select(F.col("query_id"), F.col("neighbor_id"),
                  F.col("rank").alias("_ra"))
    rb = b.select(F.col("query_id"), F.col("neighbor_id"),
                  F.col("rank").alias("_rb"))
    pairs = (ra.join(rb, ["query_id", "neighbor_id"])
             .select("query_id",
                     F.element_at(wmap, F.greatest(F.col("_ra"),
                                                   F.col("_rb")))
                     .alias("_w")))
    s = (pairs.groupBy("query_id")
         .agg(F.count(F.lit(1)).cast("long").alias("n_common"),
              F.sum("_w").cast("long").alias("_wsum")))
    q = a.select("query_id").distinct()
    # (wsum + inv//2) // inv in exact integers: wsum <= k * W[1] < 2^26,
    # so the double divide under floor() is exact for every input.
    rbo_micro = F.floor((F.coalesce(F.col("_wsum"), F.lit(0))
                         + F.lit(inv // 2)) / F.lit(inv)).cast("long")
    rbo = rbo_micro.cast("double") / F.lit(1e6)
    return (q.join(s, "query_id", "left")
            .select("query_id",
                    F.coalesce(F.col("n_common"), F.lit(0)).cast("long")
                    .alias("n_common"),
                    rbo.alias("rbo")))


def ndcg_weights_micro(k: int = 10) -> list:
    """nDCG discount table: D[r] = micro(1/log2(1+r)) for ranks 1..k —
    like :func:`rbo_weights_micro`, computed once in python and inlined
    as integer literals on both engines (log2 never crosses engines)."""
    import math
    return [int(math.floor(abs(1.0 / math.log2(1 + r)) * 1e6 + 0.5))
            for r in range(1, k + 1)]


def ndcg_overlap(bf: DataFrame, ann: DataFrame, k: int = 10) -> DataFrame:
    """nDCG@k of an approximate ranking against the exact one — the
    graded-relevance companion to :func:`rbo_overlap` (RBO measures
    list agreement; nDCG weighs each retrieved item by how relevant
    the EXACT scorer says it is). Gains = the brute-force 6-dp
    similarity as a micro int, clamped at 0 (a negative-cosine
    "relevant" item carries no gain), 0 for items outside the exact
    top-k — the standard graded-relevance convention when the judged
    pool is the exact top-k.

    All engine-shared arithmetic is integer: gain × discount products
    are exact int64 (<= 1e12 each, k per query); only the final
    DCG/IDCG ratio is a 6-dp double divide. Output per bf query:
    (query_id, n_judged, dcg_num, idcg_num, ndcg)."""
    W = ndcg_weights_micro(k)
    wmap = F.map_from_arrays(
        F.array(*[F.lit(r) for r in range(1, k + 1)]),
        F.array(*[F.lit(w) for w in W]))
    gain = F.greatest(
        F.lit(0),
        (F.signum(F.col("sim")) * F.floor(F.abs(F.col("sim"))
                                          * F.lit(1e6) + F.lit(0.5)))
        .cast("long"))
    judged = bf.select("query_id", "neighbor_id", gain.alias("_g"),
                       F.col("rank").alias("_rb"))
    idcg = (judged.groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_judged"),
                 F.sum(F.col("_g") * F.element_at(wmap, F.col("_rb")))
                 .cast("long").alias("idcg_num")))
    hits = (ann.select("query_id", "neighbor_id",
                       F.col("rank").alias("_ra"))
            .join(judged.select("query_id", "neighbor_id", "_g"),
                  ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.sum(F.col("_g") * F.element_at(wmap, F.col("_ra")))
                 .cast("long").alias("dcg_num")))
    j = (idcg.join(hits, "query_id", "left")
         .withColumn("dcg_num",
                     F.coalesce(F.col("dcg_num"), F.lit(0)).cast("long")))
    ndcg = F.when(F.col("idcg_num") > 0,
                  _r6(F.col("dcg_num").cast("double")
                      / F.col("idcg_num").cast("double")))
    return j.select("query_id", "n_judged", "dcg_num", "idcg_num",
                    ndcg.alias("ndcg"))


def embedding_drift(old: DataFrame, new: DataFrame,
                    label_col: str = "label",
                    vec_col: str = "v") -> DataFrame:
    """Embedding-space drift between two corpus versions: per label,
    the cosine between the versions' 6-dp-rounded mean vectors — the
    regression check run when an embedding model or its input pipeline
    changes (a label's centroid swinging away from 1.0 flags the drift
    before any downstream ANN/recall eval does).

    Scale shape: each side is ONE partial+final (label, dim) average —
    state |labels|·dim cells — then a |labels|-row join; nothing else
    touches the corpus. Determinism: per-dimension means round to 6 dp
    after AVG (the kmeans-update discipline — rounding absorbs the
    engines' partial-aggregate summation-order spread), so both mean
    vectors are identical doubles in Spark and the oracle and the
    cosine replays exactly; the output cosine is a micro int.

    ``vec_col`` must be array<double> with nonzero-norm means (see the
    prenorm contract note in operators/similarity.py).
    Returns (label, n_old, n_new, cos_micro)."""
    from .similarity import dot, norm
    from .util import round6_binary

    def mean_vec(df, mcol):
        e = df.select(F.col(label_col).alias("label"),
                      F.posexplode(F.col(vec_col)).alias("i", "x"))
        m = (e.groupBy("label", "i")
             .agg(round6_binary(F.avg("x")).alias("mx")))
        return (m.groupBy("label")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "mx"))),
                    lambda s: s["mx"]).alias(mcol)))

    def side_count(df, ncol):
        return (df.groupBy(F.col(label_col).alias("label"))
                .agg(F.count(F.lit(1)).cast("long").alias(ncol)))

    j = (mean_vec(old, "mo").join(mean_vec(new, "mn"), "label")
         .join(side_count(old, "n_old"), "label")
         .join(side_count(new, "n_new"), "label"))
    cs = round6_binary(dot(F.col("mo"), F.col("mn"))
                       / (norm(F.col("mo")) * norm(F.col("mn"))))
    micro = (F.signum(cs) * F.floor(F.abs(cs) * F.lit(1e6) + F.lit(0.5))) \
        .cast("long")
    return j.select("label", "n_old", "n_new", micro.alias("cos_micro"))


def _idiv(num, den):
    """Exact integer division for non-negative longs (text._idiv
    twin): (num - num % den) is exactly divisible, and the double
    quotient of int64s < 2^53 with an integral result is exact."""
    num = num.cast("long")
    den = den.cast("long")
    return ((num - num % den) / den).cast("long")


def _sratio6(num, den):
    """Signed exact 6-dp half-AWAY ratio of int64s: sign(num) ·
    ((2e6·|num| + den) div (2·den)) / 1e6 with den > 0 — the signed
    twin of text._ratio6 (whose % identity assumes a non-negative
    numerator). Every step is integer arithmetic, so the oracle's
    ``//`` replays it bit-for-bit; only the final micro/1e6 divide is
    a double (identical on both engines)."""
    num = num.cast("long")
    den = den.cast("long")
    micro = _idiv(F.lit(2_000_000) * F.abs(num) + den, F.lit(2) * den)
    return (F.signum(num) * micro / F.lit(1_000_000.0) + F.lit(0.0))


def mcc_multiclass(conf: DataFrame, true_col: str, pred_col: str,
                   n_col: str) -> DataFrame:
    """Multiclass Matthews correlation (Gorodkin 2004's R_K) over a
    confusion-matrix table — the chance- AND prevalence-corrected
    companion to :func:`cohen_kappa` (kappa only corrects for chance;
    MCC additionally punishes majority-class collapse symmetrically).

    Identity, all numerators exact int64 (matrix is |labels|² rows, so
    every aggregate is bounded): with N = Σn, T = trace,
    Σrc = Σ_k row_k·col_k, Σr² and Σc²,

        mcc = (N·T − Σrc) / (sqrt(N² − Σr²) · sqrt(N² − Σc²))

    The two sqrt factors are taken SEPARATELY (N²−Σr² stays inside
    int64 for N up to ~3e9; their product would not), each an IEEE
    correctly-rounded sqrt of an exact int64 — the oracle mirrors the
    same factoring, so the double chain is identical. NULL when either
    marginal is degenerate (one class holds everything).
    ONE row out: (n_total, trace, rc_num, rr_num, cc_num, mcc)."""
    n = F.col(n_col).cast("long")
    t = conf.agg(
        F.sum(n).cast("long").alias("n_total"),
        F.sum(F.when(F.col(true_col) == F.col(pred_col), n)
              .otherwise(F.lit(0))).cast("long").alias("trace"))
    r = (conf.groupBy(F.col(true_col).alias("lbl"))
         .agg(F.sum(n).cast("long").alias("rn")))
    c = (conf.groupBy(F.col(pred_col).alias("lbl"))
         .agg(F.sum(n).cast("long").alias("cn")))
    m = (r.join(c, "lbl", "full")
         .agg(F.sum(F.coalesce(F.col("rn"), F.lit(0))
                    * F.coalesce(F.col("cn"), F.lit(0)))
              .cast("long").alias("rc_num"),
              F.sum(F.coalesce(F.col("rn"), F.lit(0))
                    * F.coalesce(F.col("rn"), F.lit(0)))
              .cast("long").alias("rr_num"),
              F.sum(F.coalesce(F.col("cn"), F.lit(0))
                    * F.coalesce(F.col("cn"), F.lit(0)))
              .cast("long").alias("cc_num")))
    j = t.crossJoin(F.broadcast(m))
    nn = F.col("n_total") * F.col("n_total")
    num = (F.col("n_total") * F.col("trace") - F.col("rc_num")) \
        .cast("double")
    sr = F.sqrt((nn - F.col("rr_num")).cast("double"))
    sc_ = F.sqrt((nn - F.col("cc_num")).cast("double"))
    mcc = F.when((nn > F.col("rr_num")) & (nn > F.col("cc_num")),
                 _r6(num / (sr * sc_)))
    return j.select("n_total", "trace", "rc_num", "rr_num", "cc_num",
                    mcc.alias("mcc"))


def average_precision(scored: DataFrame, score_col: str,
                      label_col: str) -> DataFrame:
    """Exact average precision (PR-AUC, step interpolation — the
    information-retrieval AP and sklearn's average_precision_score
    convention) of an integer-quantized score against a 0/1 label,
    histogram-shaped like :func:`auc_exact` (its ROC companion).

    Identity: sweeping thresholds over distinct scores DESCENDING,
    each score block contributes ΔR·P = (npos_b / P) · (cumTP_b /
    cumN_b) with the cumulatives taken at the block's inclusive end.
    Engine-exact form: the block precision is first fixed to a micro
    int (2e6·cumTP + cumN) div (2·cumN) — the house exact half-up
    ratio — then ap_sum = Σ npos_b · P_micro_b is a pure int64 sum
    (fold-order free; npos_b·1e6 ≤ P·1e6 keeps it far inside int64)
    and ap = half-up(ap_sum / P) / 1e6. Summing the unrounded doubles
    instead would expose cross-engine summation order.

    Scale shape: ONE corpus groupBy(score) with map-side combine; the
    cumulative window runs over distinct quantized scores only.
    ONE row out: (n_pos, n_neg, n_scores, ap_sum_micro, ap)."""
    hist = (scored.groupBy(score_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum(F.col(label_col).cast("long")).cast("long")
                 .alias("npos")))
    w = (Window.partitionBy()
         .orderBy(F.desc(score_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = hist.select(
        F.col("n"), F.col("npos"),
        F.sum("npos").over(w).cast("long").alias("cum_tp"),
        F.sum("n").over(w).cast("long").alias("cum_n"))
    p_micro = _idiv(F.lit(2_000_000) * F.col("cum_tp") + F.col("cum_n"),
                    F.lit(2) * F.col("cum_n"))
    agg = cum.agg(
        F.sum("npos").cast("long").alias("n_pos"),
        (F.sum("n") - F.sum("npos")).cast("long").alias("n_neg"),
        F.count(F.lit(1)).cast("long").alias("n_scores"),
        F.sum(F.col("npos") * p_micro).cast("long").alias("ap_sum_micro"))
    ap = F.when(F.col("n_pos") > 0,
                _idiv(F.lit(2) * F.col("ap_sum_micro") + F.col("n_pos"),
                      F.lit(2) * F.col("n_pos")) / F.lit(1_000_000.0)
                + F.lit(0.0))
    return agg.select("n_pos", "n_neg", "n_scores", "ap_sum_micro",
                      ap.alias("ap"))


def ece_bin_col(conf_micro_col: str, n_bins: int = 10):
    """Equal-width calibration bin over [0, 1] for a micro-int
    confidence: min(conf_micro·B div 1e6, B−1) — exported so the
    streaming twin bins identically."""
    cm = F.col(conf_micro_col).cast("long")
    return F.least(_idiv(cm * F.lit(int(n_bins)), F.lit(1_000_000)),
                   F.lit(int(n_bins) - 1))


def ece_from_scores(scored: DataFrame, conf_micro_col: str,
                    label_col: str, n_bins: int = 10) -> DataFrame:
    """Expected calibration error (Naeini et al. 2015) of a micro-int
    confidence against a 0/1 label — the single-number summary of the
    calibration_bins reliability table. Equal-width bins over [0, 1]
    (:func:`ece_bin_col`); the tail over the bin histogram is the
    shared :func:`ece_from_hist` (ONE definition with the streaming
    monitor). ONE corpus groupBy(bin) with map-side combine; B rows of
    state. ONE row out: (n_total, n_bins_used, gap_sum_micro, ece)."""
    cm = F.col(conf_micro_col).cast("long")
    bins = (scored.select(ece_bin_col(conf_micro_col, n_bins)
                          .alias("bin"), cm.alias("cm"),
                          F.col(label_col).cast("long").alias("y"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("y").cast("long").alias("npos"),
                 F.sum("cm").cast("long").alias("conf_sum")))
    return ece_from_hist(bins)


def ece_from_hist(bins: DataFrame) -> DataFrame:
    """The ECE tail from a (bin, n, npos, conf_sum) histogram — shared
    by the batch operator and the streaming monitor (the
    cat_drift_from_hist discipline). Exact-integer identity: per bin,
    n_b·|acc_b − conf̄_b| = |npos_b·1e6 − Σconf_micro| (both sides
    scaled by n_b·1e6 — the per-bin divides cancel), so the weighted
    gap sum S is one exact int64 aggregate and
    ece = half-up(S / N) / 1e6."""
    gap = F.abs(F.col("npos") * F.lit(1_000_000) - F.col("conf_sum"))
    agg = bins.agg(F.sum("n").cast("long").alias("n_total"),
                   F.count(F.lit(1)).cast("long").alias("n_bins_used"),
                   F.sum(gap).cast("long").alias("gap_sum_micro"))
    ece = (_idiv(F.lit(2) * F.col("gap_sum_micro") + F.col("n_total"),
                 F.lit(2) * F.col("n_total")) / F.lit(1_000_000.0)
           + F.lit(0.0))
    return agg.select("n_total", "n_bins_used", "gap_sum_micro",
                      ece.alias("ece"))


def f1_per_class(conf: DataFrame, true_col: str, pred_col: str,
                 n_col: str) -> DataFrame:
    """Per-class precision / recall / F1 from a confusion-matrix table
    — the per-class detail behind the kappa/MCC single numbers (a
    classifier can post a strong kappa while one minority class is
    silently unservable). All-integer identities over the bounded
    |labels|² matrix: tp = diagonal count, n_pred / n_true = marginal
    sums, and F1's harmonic mean reduces to the single exact ratio
    2·tp / (n_true + n_pred) — no float intermediate at all; each
    ratio rounds with the house exact 6-dp rule, NULL on an empty
    denominator. One row per class in EITHER margin:
    (lbl, n_true, n_pred, tp, precision, recall, f1)."""
    n = F.col(n_col).cast("long")
    r = (conf.groupBy(F.col(true_col).alias("lbl"))
         .agg(F.sum(n).cast("long").alias("n_true")))
    c = (conf.groupBy(F.col(pred_col).alias("lbl"))
         .agg(F.sum(n).cast("long").alias("n_pred")))
    d = (conf.where(F.col(true_col) == F.col(pred_col))
         .groupBy(F.col(true_col).alias("lbl"))
         .agg(F.sum(n).cast("long").alias("tp")))
    j = (r.join(c, "lbl", "full").join(d, "lbl", "left")
         .select("lbl",
                 F.coalesce(F.col("n_true"), F.lit(0)).alias("n_true"),
                 F.coalesce(F.col("n_pred"), F.lit(0)).alias("n_pred"),
                 F.coalesce(F.col("tp"), F.lit(0)).alias("tp")))
    prec = F.when(F.col("n_pred") > 0,
                  _sratio6(F.col("tp"), F.col("n_pred")))
    rec = F.when(F.col("n_true") > 0,
                 _sratio6(F.col("tp"), F.col("n_true")))
    f1 = F.when(F.col("n_true") + F.col("n_pred") > 0,
                _sratio6(F.lit(2) * F.col("tp"),
                         F.col("n_true") + F.col("n_pred")))
    return j.select("lbl", "n_true", "n_pred", "tp",
                    prec.alias("precision"), rec.alias("recall"),
                    f1.alias("f1"))


def js_unigram_divergence(old_docs: DataFrame, new_docs: DataFrame,
                          text_col: str = "text") -> DataFrame:
    """Jensen-Shannon divergence between two corpus versions' unigram
    word distributions — the symmetric, bounded ([0, ln 2]) drift
    measure for 'did the vocabulary mix shift between dataset
    versions', next to the value-space monitors (ks_drift/cat_drift)
    and the embedding-space one (embedding_drift).

    JS(P‖Q) = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m) with m = (p+q)/2. Shape:
    one (word) count per side, a full-outer dict-sized join, and the
    side totals ride as FULL-FRAME windows over that dict (the
    ks_from_hist discipline — no crossJoin, no second corpus pass).
    Engine parity: p, q, m are the identical double chains of exact
    int64 counts on both engines; each word's two terms round to
    micro ints BEFORE the sum (fold-order free), and the final halving
    is integer half-away. ONE row out: (n_vocab_union, n_old_tokens,
    n_new_tokens, jsa_micro_sum, jsb_micro_sum, js)."""
    from .text import words_col

    def counts(df, cname):
        return (df.select(F.explode(
            words_col(F.lower(F.col(text_col)))).alias("w"))
            .where(F.col("w") != "")
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("long").alias(cname)))

    ca = counts(old_docs, "cp")
    cb = counts(new_docs, "cq")
    u = (ca.join(cb, "w", "full")
         .select(F.col("w"),
                 F.coalesce(F.col("cp"), F.lit(0)).alias("cp"),
                 F.coalesce(F.col("cq"), F.lit(0)).alias("cq")))
    return _js_tail(u)


def js_unigram_divergence_flagged(docs: DataFrame, old_cond, new_cond,
                                  text_col: str = "text") -> DataFrame:
    """:func:`js_unigram_divergence` when both corpus versions are
    SUBSETS OF ONE FRAME (the corpus_diff convention — the subsets
    overlap): the words explode ONCE carrying both membership flags,
    so per-word cp/cq land in the same grouped-aggregate row — no
    second corpus pass, no full-outer join. Identical integers →
    identical output; the oracle is shared."""
    from .text import words_col
    base = (docs.where(old_cond | new_cond)
            .select(old_cond.alias("_o"), new_cond.alias("_n"),
                    F.explode(words_col(F.lower(F.col(text_col))))
                    .alias("w"))
            .where(F.col("w") != ""))
    u = (base.groupBy("w")
         .agg(F.sum(F.col("_o").cast("long")).cast("long").alias("cp"),
              F.sum(F.col("_n").cast("long")).cast("long").alias("cq")))
    return _js_tail(u)


def _js_tail(u: DataFrame) -> DataFrame:
    """Shared JS math over a (w, cp, cq) word-count frame: side totals
    as full-frame windows, per-word micro terms, integer half-away
    halving (see :func:`js_unigram_divergence`)."""
    wt = Window.partitionBy().rowsBetween(Window.unboundedPreceding,
                                          Window.unboundedFollowing)
    u = (u.withColumn("np", F.sum("cp").over(wt).cast("long"))
         .withColumn("nq", F.sum("cq").over(wt).cast("long")))
    p = F.col("cp").cast("double") / F.col("np").cast("double")
    q = F.col("cq").cast("double") / F.col("nq").cast("double")
    m = (p + q) / F.lit(2.0)

    def micro(col):
        return (F.signum(col)
                * F.floor(F.abs(col) * F.lit(1e6) + F.lit(0.5))) \
            .cast("long")

    ta = F.when(F.col("cp") > 0, micro(p * F.log(p / m))) \
        .otherwise(F.lit(0))
    tb = F.when(F.col("cq") > 0, micro(q * F.log(q / m))) \
        .otherwise(F.lit(0))
    agg = u.agg(F.count(F.lit(1)).cast("long").alias("n_vocab_union"),
                F.max("np").cast("long").alias("n_old_tokens"),
                F.max("nq").cast("long").alias("n_new_tokens"),
                F.sum(ta).cast("long").alias("jsa_micro_sum"),
                F.sum(tb).cast("long").alias("jsb_micro_sum"))
    s = (F.col("jsa_micro_sum") + F.col("jsb_micro_sum")).cast("long")
    js_micro = F.signum(s) * _idiv(F.abs(s) + F.lit(1), F.lit(2))
    js = js_micro / F.lit(1_000_000.0) + F.lit(0.0)
    return agg.select("n_vocab_union", "n_old_tokens", "n_new_tokens",
                      "jsa_micro_sum", "jsb_micro_sum", js.alias("js"))


def _common_ranks(a: DataFrame, b: DataFrame) -> DataFrame:
    """Common (query, neighbor) items of two per-query rankings with
    both original ranks — the shared head of the rank-correlation
    evals. One equi-join on (query_id, neighbor_id)."""
    ra = a.select("query_id", "neighbor_id", F.col("rank").alias("_ra"))
    rb = b.select("query_id", "neighbor_id", F.col("rank").alias("_rb"))
    return ra.join(rb, ["query_id", "neighbor_id"])


def spearman_overlap(a: DataFrame, b: DataFrame) -> DataFrame:
    """Spearman rank correlation between two per-query top-k rankings,
    over their COMMON items re-ranked 1..n within the intersection —
    the monotone-agreement eval next to rbo (top-weighted overlap) and
    ndcg (graded gains). Original ranks are distinct within a list, so
    the re-rank is tie-free and rho has the exact closed form

        rho = (n(n²−1) − 6Σd²) / (n(n²−1)),   d = rank_a' − rank_b'

    — an exact int64 ratio (k-bounded: n ≤ k) rounded with the signed
    6-dp half-away house rule; NULL when n < 2. Per a-side query:
    (query_id, n_common, d2_sum, rho). Scale: one (query, neighbor)
    equi-join + two k-row-bounded per-query windows."""
    c = _common_ranks(a, b)
    wa = Window.partitionBy("query_id").orderBy("_ra")
    wb = Window.partitionBy("query_id").orderBy("_rb")
    rr = c.select("query_id",
                  F.row_number().over(wa).cast("long").alias("ra2"),
                  F.row_number().over(wb).cast("long").alias("rb2"))
    d = F.col("ra2") - F.col("rb2")
    s = (rr.groupBy("query_id")
         .agg(F.count(F.lit(1)).cast("long").alias("n_common"),
              F.sum(d * d).cast("long").alias("d2_sum")))
    q = a.select("query_id").distinct()
    n = F.col("n_common")
    den = n * (n * n - F.lit(1))
    rho = F.when(n >= 2, _sratio6(den - F.lit(6) * F.col("d2_sum"), den))
    return (q.join(s, "query_id", "left")
            .select("query_id",
                    F.coalesce(n, F.lit(0)).cast("long").alias("n_common"),
                    F.coalesce(F.col("d2_sum"), F.lit(0)).cast("long")
                    .alias("d2_sum"),
                    rho.alias("rho")))


def kendall_overlap(a: DataFrame, b: DataFrame) -> DataFrame:
    """Kendall tau-a between two per-query top-k rankings over their
    common items — the pairwise-agreement companion to
    :func:`spearman_overlap` (tau counts discordant PAIRS; rho weighs
    displacement DISTANCE). Ranks are tie-free within a list, so

        tau = (C − D) / (n(n−1)/2)

    with C/D the concordant/discordant pair counts — exact int64, the
    signed 6-dp half-away rounding, NULL when n < 2. The pair
    enumeration is a within-query self-join on neighbor_id order —
    bounded at n(n−1)/2 ≤ k(k−1)/2 pairs per query, so the 'quadratic'
    is a constant; the corpus-scale work remains the one
    (query, neighbor) equi-join in :func:`_common_ranks`. The common
    set (≤ k rows per query) is localCheckpoint'ed: three plan
    references (pair sides + sizes) would otherwise re-run the whole
    upstream ranking pipeline three times. Per a-side query:
    (query_id, n_common, n_concordant, n_discordant, tau)."""
    c = _common_ranks(a, b).localCheckpoint(eager=True)
    l = c.select("query_id", F.col("neighbor_id").alias("ni"),
                 F.col("_ra").alias("rai"), F.col("_rb").alias("rbi"))
    r = c.select("query_id", F.col("neighbor_id").alias("nj"),
                 F.col("_ra").alias("raj"), F.col("_rb").alias("rbj"))
    pairs = (l.join(r, "query_id").where(F.col("ni") < F.col("nj")))
    sgn = (F.col("rai") - F.col("raj")) * (F.col("rbi") - F.col("rbj"))
    s = (pairs.groupBy("query_id")
         .agg(F.sum((sgn > 0).cast("long")).cast("long").alias("n_conc"),
              F.sum((sgn < 0).cast("long")).cast("long").alias("n_disc")))
    sizes = (c.groupBy("query_id")
             .agg(F.count(F.lit(1)).cast("long").alias("n_common")))
    q = a.select("query_id").distinct()
    n = F.col("n_common")
    tau = F.when(n >= 2, _sratio6(
        F.lit(2) * (F.coalesce(F.col("n_conc"), F.lit(0))
                    - F.coalesce(F.col("n_disc"), F.lit(0))),
        n * (n - F.lit(1))))
    return (q.join(sizes, "query_id", "left").join(s, "query_id", "left")
            .select("query_id",
                    F.coalesce(n, F.lit(0)).cast("long").alias("n_common"),
                    F.coalesce(F.col("n_conc"), F.lit(0)).cast("long")
                    .alias("n_concordant"),
                    F.coalesce(F.col("n_disc"), F.lit(0)).cast("long")
                    .alias("n_discordant"),
                    tau.alias("tau")))


def rrf_weights_micro(k: int = 10, k0: int = 60) -> list:
    """Reciprocal-rank-fusion weight table: micro(1/(k0 + r)) for
    ranks 1..k (Cormack et al. 2009, k0 = 60 the standard damping) —
    computed once in python and inlined as integer literals on both
    engines, the rbo_weights_micro discipline."""
    return [int((1_000_000 + (k0 + r) // 2) // (k0 + r))
            for r in range(1, k + 1)]


def rrf_fuse(a: DataFrame, b: DataFrame, k: int = 10,
             k0: int = 60) -> DataFrame:
    """Reciprocal rank fusion of two per-query top-k rankings — the
    standard zero-tuning hybrid-retrieval merge (e.g. lexical BM25 +
    dense cosine): score(q, d) = Σ_lists 1/(k0 + rank), absent lists
    contribute 0. Weights are inlined micro-int literals, the per-pair
    sum is exact int64, and the fused top-k re-ranks by
    (rrf desc, neighbor asc) — fully deterministic, no float path.
    Scale: one full-outer (query, neighbor) equi-join + one
    k-bounded-per-query window. Output per query:
    (query_id, neighbor_id, rrf_micro, rank) with rank ≤ k."""
    W = rrf_weights_micro(k, k0)
    wmap = F.map_from_arrays(
        F.array(*[F.lit(m) for m in range(1, k + 1)]),
        F.array(*[F.lit(w) for w in W]))
    ra = a.select("query_id", "neighbor_id", F.col("rank").alias("_ra"))
    rb = b.select("query_id", "neighbor_id", F.col("rank").alias("_rb"))
    fused = (ra.join(rb, ["query_id", "neighbor_id"], "full")
             .select("query_id", "neighbor_id",
                     (F.coalesce(F.element_at(wmap, F.col("_ra")),
                                 F.lit(0))
                      + F.coalesce(F.element_at(wmap, F.col("_rb")),
                                   F.lit(0))).cast("long")
                     .alias("rrf_micro")))
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_micro"),
                                               F.asc("neighbor_id"))
    return (fused.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rrf_micro",
                    F.col("rank").cast("int").alias("rank")))


def adjusted_rand(conf: DataFrame, a_col: str, b_col: str,
                  n_col: str) -> DataFrame:
    """Adjusted Rand Index (Hubert & Arabie 1985) of two partitions of
    the same items, from their contingency table — the
    permutation-INVARIANT agreement companion to :func:`cohen_kappa` /
    :func:`mcc_multiclass` (those require the two label sets to be
    aligned by name; ARI only asks whether the two partitions group
    the same items together, so it also evaluates clusterings whose
    labels carry no meaning).

    Pair-counting identity, every sum exact int64 (c·(c−1) is always
    even so the /2 is exact integer division):

        ARI = (Σij C(nij,2) − E) / (½·(Σa + Σb) − E),
          E = Σa·Σb / C(n,2)

    with Σa/Σb the row/column marginal pair sums — halved via _idiv,
    so every pair count is exact for ALL counts in the operator's
    domain n·(n−1) ≤ 2^63 (n_total up to ~3.0e9 items; beyond that
    C(n,2) itself overflows int64 and ANSI mode raises rather than
    silently wrapping). Only the final double chain (identical
    expression of exact int64s on both engines) leaves integers; NULL
    when the denominator is 0 (both partitions put everything in one
    group — ARI undefined). ONE row out:
    (n_total, sum_ab_pairs, sum_a_pairs, sum_b_pairs, ari).
    Scale: the contingency table is |A|·|B| rows, so every aggregate
    here is dict-sized regardless of corpus size."""
    n = F.col(n_col).cast("long")

    def pairs2(c):
        # c*(c-1) is even and non-negative, so shiftright(·, 1) IS
        # the exact /2 for the whole int64 domain — a double '/2'
        # (and _idiv, whose quotient is a double) round past 2^53.
        c = c.cast("long")
        return F.shiftright(c * (c - F.lit(1)), 1)

    t = conf.agg(F.sum(pairs2(n)).cast("long").alias("sum_ab_pairs"),
                 F.sum(n).cast("long").alias("n_total"))
    sa = (conf.groupBy(a_col).agg(F.sum(n).alias("_an"))
          .agg(F.sum(pairs2(F.col("_an"))).cast("long")
               .alias("sum_a_pairs")))
    sb = (conf.groupBy(b_col).agg(F.sum(n).alias("_bn"))
          .agg(F.sum(pairs2(F.col("_bn"))).cast("long")
               .alias("sum_b_pairs")))
    j = t.crossJoin(F.broadcast(sa)).crossJoin(F.broadcast(sb))
    n2 = pairs2(F.col("n_total")).cast("double")
    e = (F.col("sum_a_pairs").cast("double")
         * F.col("sum_b_pairs").cast("double") / n2)
    den = ((F.col("sum_a_pairs") + F.col("sum_b_pairs")).cast("double")
           / F.lit(2.0) - e)
    ari = F.when(den != F.lit(0.0),
                 _r6((F.col("sum_ab_pairs").cast("double") - e) / den))
    return j.select("n_total", "sum_ab_pairs", "sum_a_pairs",
                    "sum_b_pairs", ari.alias("ari"))


def krippendorff_alpha(units: DataFrame, label_cols: list,
                       unit_col: str = "doc_id") -> DataFrame:
    """Krippendorff's alpha (nominal data, no missing ratings) over a
    WIDE ratings table — one row per unit, one column per rater. The
    reliability metric that generalizes :func:`cohen_kappa` beyond two
    raters and corrects for chance using the observed label prevalence
    (Krippendorff 2004 §11).

    With every unit rated by all m raters, the coincidence-matrix
    identity collapses to exact integers: the matrix marginal of label
    c is its raw rating count n_c, n = m·U, and

        alpha = 1 − (n−1) · 2·Σ_u mism_u / ((m−1) · (n² − Σ_c n_c²))

    where mism_u = #{i<j : rating_i ≠ rating_j} per unit (a map-side
    expression over the m columns — no unit-level shuffle at all).
    Only the final divide is a double; NULL when every rating is one
    label (zero expected disagreement). Units with a NULL rating in
    ANY rater column are EXCLUDED from both the mismatch sum and the
    marginals (the complete-data identity above does not hold for
    them) and counted in the explicit n_skipped column — the WER
    n_skipped discipline, replacing a silent inconsistent total. ONE
    row out: (n_units, n_skipped, n_ratings, o_mis2, nn_mis, alpha).
    Scale: one map pass + one |labels|-sized grouped count + two
    one-row aggregates."""
    m = len(label_cols)
    if m < 2:
        raise ValueError("krippendorff_alpha: need >= 2 rater columns")
    mism = None
    anynull = None
    for i in range(m):
        isn = F.col(label_cols[i]).isNull()
        anynull = isn if anynull is None else (anynull | isn)
        for j in range(i + 1, m):
            t = (F.col(label_cols[i]) != F.col(label_cols[j])).cast("long")
            mism = t if mism is None else mism + t
    per = units.select(anynull.alias("_skip"), mism.alias("_mism"),
                       F.array(*[F.col(c) for c in label_cols])
                       .alias("_r"))
    tot = per.agg(F.sum((~F.col("_skip")).cast("long")).cast("long")
                  .alias("n_units"),
                  F.sum(F.col("_skip").cast("long")).cast("long")
                  .alias("n_skipped"),
                  F.coalesce(
                      (F.sum(F.when(~F.col("_skip"), F.col("_mism")))
                       * F.lit(2)).cast("long"),
                      F.lit(0).cast("long")).alias("o_mis2"))
    marg = (per.where(~F.col("_skip"))
            .select(F.explode("_r").alias("_lbl"))
            .groupBy("_lbl").agg(F.count(F.lit(1)).cast("long")
                                 .alias("_nc"))
            .agg(F.coalesce(F.sum("_nc").cast("long"),
                            F.lit(0).cast("long")).alias("n_ratings"),
                 F.coalesce(F.sum(F.col("_nc") * F.col("_nc"))
                            .cast("long"),
                            F.lit(0).cast("long")).alias("_sq")))
    j = tot.crossJoin(F.broadcast(marg))
    nn_mis = (F.col("n_ratings") * F.col("n_ratings") - F.col("_sq")) \
        .cast("long")
    num = ((F.col("n_ratings") - F.lit(1)) * F.col("o_mis2")) \
        .cast("double")
    den = (F.lit(m - 1) * nn_mis).cast("double")
    alpha = F.when(nn_mis > F.lit(0),
                   _r6(F.lit(1.0) - num / den))
    return j.select("n_units", "n_skipped", "n_ratings", "o_mis2",
                    nn_mis.alias("nn_mis"), alpha.alias("alpha"))


def bleu_corpus(pairs: DataFrame, cand_col: str, ref_col: str,
                id_col: str = "doc_id", max_n: int = 4) -> DataFrame:
    """Corpus BLEU (Papineni et al. 2002) of a candidate text column
    against a single reference column: clipped n-gram precisions for
    n = 1..max_n, geometric mean, brevity penalty — the standard
    n-gram-overlap score a pipeline uses to quantify how far a
    transformation (decontamination rewrite, PII scrub, OCR cleanup)
    drifted from its source.

    Exactness discipline: matched/total counts per n are exact int64
    (per-doc clipped counts = Σ min(cand_count, ref_count), both
    counts from ONE grouped aggregate over side-tagged grams — a gram
    absent from either side has count 0 there and clips to 0 in
    place). The float tail is ONE fixed expression of those ints —
    p_n = m_n/t_n exact-int divides, ln/exp under the repo's
    libm-parity contract (heldout_ppl convention), brevity penalty
    exp(1 − r/c) when c < r — rounded 6-dp half-away at the very end.
    Zero matches at any order → BLEU NULL (undefined without
    smoothing; the caller picks a smoothing if its corpus can hit it —
    the fixture cannot).

    Scale: the corpus is touched exactly TWICE — one explode emits
    every (n, gram, side) for all orders and BOTH sides at once, so
    candidate and reference counts land in the same (doc, n, gram)
    aggregate row and the clip is a local min (no gram equi-join at
    all); the second pass is the per-order length totals (which also
    carry c_len/r_len — t1 IS Σ len). Everything after is ≤ max_n
    rows. Output ONE row: (m1, t1, .., m{max_n}, t{max_n}, c_len,
    r_len, bleu)."""
    from .text import ngram_array, words_col

    w = pairs.select(
        F.col(id_col).alias("_id"),
        words_col(F.col(cand_col)).alias("_cw"),
        words_col(F.col(ref_col)).alias("_rw"))

    def tag(n, side):
        # factory so the HOF lambda has exactly ONE parameter — a
        # second (even defaulted) parameter makes Spark pass the
        # ELEMENT INDEX into it (the lang_id marker_score trap)
        def one(g):
            return F.struct(F.lit(n).alias("n"), g.alias("g"),
                            F.lit(side).alias("s"))
        return one

    grams = F.concat(*[
        F.flatten(F.array(*[
            F.transform(ngram_array(F.col(col), n), tag(n, side))
            for n in range(1, max_n + 1)]))
        for side, col in ((0, "_cw"), (1, "_rw"))])
    counts = (w.select("_id", F.explode(grams).alias("_t"))
              .groupBy("_id", F.col("_t.n").alias("n"),
                       F.col("_t.g").alias("g"))
              .agg(F.sum((F.col("_t.s") == 0).cast("long")).alias("_cc"),
                   F.sum((F.col("_t.s") == 1).cast("long")).alias("_rc")))
    matched = (counts.groupBy("n")
               .agg(F.sum(F.least(F.col("_cc"), F.col("_rc")))
                    .cast("long").alias("_m")))
    totals = (w.select(F.explode(F.array(*[
        F.struct(F.lit(n).alias("n"),
                 F.greatest(F.size("_cw") - F.lit(n - 1), F.lit(0))
                 .cast("long").alias("_t"),
                 F.greatest(F.size("_rw") - F.lit(n - 1), F.lit(0))
                 .cast("long").alias("_tr"))
        for n in range(1, max_n + 1)])).alias("_s"))
        .groupBy(F.col("_s.n").alias("n"))
        .agg(F.sum("_s._t").cast("long").alias("_t"),
             F.sum("_s._tr").cast("long").alias("_tr")))
    # totals always has all max_n orders (the explode emits every n
    # for every doc, zero-length included); matched can miss an order
    # entirely — left join + coalesce keeps the honest m=0 count
    mt = totals.join(matched, "n", "left") \
        .withColumn("_m", F.coalesce(F.col("_m"), F.lit(0)))
    j = mt.agg(*([agg for n in range(1, max_n + 1) for agg in (
        F.sum(F.when(F.col("n") == n, F.col("_m"))).cast("long")
        .alias(f"m{n}"),
        F.sum(F.when(F.col("n") == n, F.col("_t"))).cast("long")
        .alias(f"t{n}"))]
        # the unigram totals ARE the corpus lengths (t1 = Σ max(len,0))
        + [F.sum(F.when(F.col("n") == 1, F.col("_t"))).cast("long")
           .alias("c_len"),
           F.sum(F.when(F.col("n") == 1, F.col("_tr"))).cast("long")
           .alias("r_len")]))
    logsum = None
    ok = None
    for n in range(1, max_n + 1):
        pos = (F.col(f"m{n}") > F.lit(0)) & (F.col(f"t{n}") > F.lit(0))
        ok = pos if ok is None else (ok & pos)
        term = F.log(F.col(f"m{n}").cast("double")
                     / F.col(f"t{n}").cast("double"))
        logsum = term if logsum is None else logsum + term
    bp = F.when(F.col("c_len") >= F.col("r_len"), F.lit(1.0)) \
        .otherwise(F.exp(F.lit(1.0) - F.col("r_len").cast("double")
                         / F.col("c_len").cast("double")))
    bleu = F.when(ok, _r6(bp * F.exp(logsum / F.lit(float(max_n)))))
    cols = [c for n in range(1, max_n + 1) for c in (f"m{n}", f"t{n}")]
    return j.select(*cols, "c_len", "r_len", bleu.alias("bleu"))


def word_error_rate(pairs: DataFrame, cand_col: str, ref_col: str,
                    id_col: str = "doc_id") -> DataFrame:
    """Corpus word error rate — Σ word-level edit distances / Σ
    reference lengths, the ASR/transcription eval — computed entirely
    in JVM builtins: each pair's distinct words map to single ASCII
    characters (array_position into the pair's own vocab), so the
    word-SEQUENCE Levenshtein distance IS the built-in character
    ``levenshtein`` of the two encoded strings. No Python, no DP UDF.

    The encoding covers pairs with ≤ 79 distinct words (ASCII 48..126
    — printable, no control/quote ambiguity); wider pairs are counted
    in ``n_skipped`` and excluded from the sums rather than silently
    mis-scored (chunk long docs first — a WER eval on a 10k-word blob
    isn't meaningful anyway). All sums exact int64; the rate is the
    house exact 6-dp ratio. ONE row out: (n_docs, n_skipped,
    sum_edits, sum_ref_words, wer). Scale: map-only per pair + one
    one-row aggregate."""
    per = pairs.select(*wer_row_cols(cand_col, ref_col))
    return wer_from_rows(per)


def wer_row_cols(cand_col: str, ref_col: str) -> list:
    """The per-pair WER map columns (_ok, _d, _nr) — factored so the
    streaming twin (streaming/drift.py streaming_wer) runs the SAME
    encode/levenshtein projection on a stream."""
    from .text import words_col
    cw = words_col(F.col(cand_col))
    rw = words_col(F.col(ref_col))
    vocab = F.array_distinct(F.concat(rw, cw))

    def enc(w):
        return F.concat_ws(
            "", F.transform(w, lambda x: F.char(F.lit(47)
                                                + F.array_position(vocab,
                                                                   x))))

    okc = F.size(vocab) <= F.lit(79)
    return [okc.alias("_ok"),
            F.when(okc, F.levenshtein(enc(cw), enc(rw)).cast("long"))
            .alias("_d"),
            F.when(okc, F.size(rw).cast("long")).alias("_nr")]


def wer_aggs() -> list:
    """The 4 int64 WER partial aggregates over :func:`wer_row_cols`
    rows — commutative sums/counts, so any batch split produces the
    same totals (the streaming-twin contract)."""
    return [F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((~F.col("_ok")).cast("long")).cast("long")
            .alias("n_skipped"),
            F.sum(F.coalesce(F.col("_d"), F.lit(0))).cast("long")
            .alias("sum_edits"),
            F.sum(F.coalesce(F.col("_nr"), F.lit(0))).cast("long")
            .alias("sum_ref_words")]


def wer_from_rows(per: DataFrame) -> DataFrame:
    """Aggregate :func:`wer_row_cols` rows to the ONE-row WER result —
    the shared batch tail."""
    return wer_finalize(per.agg(*wer_aggs()))


def wer_finalize(totals: DataFrame) -> DataFrame:
    """The exact 6-dp rate over a (n_docs, n_skipped, sum_edits,
    sum_ref_words) totals frame — shared by batch and the streaming
    twin's bounded-replay output."""
    from .text import _ratio6
    wer = F.when(F.col("sum_ref_words") > 0,
                 _ratio6(F.col("sum_edits"), F.col("sum_ref_words")))
    return totals.select("n_docs", "n_skipped", "sum_edits",
                         "sum_ref_words", wer.alias("wer"))


def chrf_corpus(pairs: DataFrame, cand_col: str, ref_col: str,
                id_col: str = "doc_id", max_n: int = 6,
                beta: float = 2.0) -> DataFrame:
    """Corpus chrF (Popović 2015) of a candidate text column against a
    reference: character-n-gram precision/recall for n = 1..max_n over
    whitespace-stripped text, macro-averaged, combined with the
    F_beta harmonic mean (β = 2 — the published chrF2 default, recall
    twice as important). The character-level companion to
    :func:`bleu_corpus` — robust where tokenization differs.

    Same exactness discipline as BLEU: clipped matched counts and both
    sides' totals are exact int64 from one side-tagged (doc, n, gram)
    grouped aggregate (clip = local min, no gram equi-join);
    the float tail (per-n ratios, two /max_n averages, the F_beta
    combine — β² = 4 exact in binary) is one fixed expression of those
    ints, 6-dp rounded at the end. NULL when any order has zero
    candidate or reference grams corpus-wide. ONE row out: per-n
    (m{n}, tc{n}, tr{n}) plus chrf."""
    s_cand = F.regexp_replace(F.col(cand_col), r"\s+", "")
    s_ref = F.regexp_replace(F.col(ref_col), r"\s+", "")
    w = pairs.select(F.col(id_col).alias("_id"),
                     s_cand.alias("_c"), s_ref.alias("_r"))

    def mk(n, col, side):
        # factory returning a ONE-parameter lambda (the HOF
        # introspection rule — a second parameter would receive the
        # element index, the bleu_corpus trap)
        def one(i):
            return F.struct(F.lit(n).alias("n"),
                            F.substring(col, i, F.lit(n)).alias("g"),
                            F.lit(side).alias("s"))
        return one

    def gram_structs(col, side):
        # per order n: positions 1..len-n+1, each a substring gram.
        # The too-short case must yield an EMPTY array explicitly —
        # sequence(1, len-n+1) with len < n would generate a
        # DESCENDING [1, 0, ...] run (Spark sequence semantics), not
        # an empty one.
        parts = []
        for n in range(1, max_n + 1):
            seq = F.when(
                F.length(col) >= F.lit(n),
                F.sequence(F.lit(1), F.length(col) - F.lit(n - 1))) \
                .otherwise(F.array().cast("array<int>"))
            parts.append(F.transform(seq, mk(n, col, side)))
        return F.flatten(F.array(*parts))

    # ONE side-tagged explode: both sides' counts land in the same
    # (doc, n, gram) aggregate row and the clip is a local min — no
    # gram equi-join, corpus touched twice total (grams + totals),
    # the bleu_corpus plan shape
    grams = F.concat(gram_structs(F.col("_c"), 0),
                     gram_structs(F.col("_r"), 1))
    counts = (w.select("_id", F.explode(grams).alias("_t"))
              .groupBy("_id", F.col("_t.n").alias("n"),
                       F.col("_t.g").alias("g"))
              .agg(F.sum((F.col("_t.s") == 0).cast("long")).alias("_cc"),
                   F.sum((F.col("_t.s") == 1).cast("long")).alias("_rc")))
    matched = (counts.groupBy("n")
               .agg(F.sum(F.least(F.col("_cc"), F.col("_rc")))
                    .cast("long").alias("_m")))
    totals = (w.select(F.explode(F.array(*[
        F.struct(F.lit(n).alias("n"),
                 F.greatest(F.length("_c") - F.lit(n - 1), F.lit(0))
                 .cast("long").alias("_tc"),
                 F.greatest(F.length("_r") - F.lit(n - 1), F.lit(0))
                 .cast("long").alias("_tr"))
        for n in range(1, max_n + 1)])).alias("_s"))
        .groupBy(F.col("_s.n").alias("n"))
        .agg(F.sum("_s._tc").cast("long").alias("_tc"),
             F.sum("_s._tr").cast("long").alias("_tr")))
    mt = totals.join(matched, "n", "left") \
        .withColumn("_m", F.coalesce(F.col("_m"), F.lit(0)))
    one = mt.agg(*[agg for n in range(1, max_n + 1) for agg in (
        F.sum(F.when(F.col("n") == n, F.col("_m"))).cast("long")
        .alias(f"m{n}"),
        F.sum(F.when(F.col("n") == n, F.col("_tc"))).cast("long")
        .alias(f"tc{n}"),
        F.sum(F.when(F.col("n") == n, F.col("_tr"))).cast("long")
        .alias(f"tr{n}"))])
    ok = None
    psum, rsum = None, None
    for n in range(1, max_n + 1):
        pos = (F.col(f"tc{n}") > F.lit(0)) & (F.col(f"tr{n}") > F.lit(0))
        ok = pos if ok is None else (ok & pos)
        p = F.col(f"m{n}").cast("double") / F.col(f"tc{n}").cast("double")
        r = F.col(f"m{n}").cast("double") / F.col(f"tr{n}").cast("double")
        psum = p if psum is None else psum + p
        rsum = r if rsum is None else rsum + r
    pavg = psum / F.lit(float(max_n))
    ravg = rsum / F.lit(float(max_n))
    b2 = float(beta) * float(beta)
    chrf = F.when(
        ok & ((F.lit(b2) * pavg + ravg) > F.lit(0.0)),
        _r6((F.lit(1.0 + b2) * pavg * ravg)
            / (F.lit(b2) * pavg + ravg)))
    cols = [c for n in range(1, max_n + 1)
            for c in (f"m{n}", f"tc{n}", f"tr{n}")]
    return one.select(*cols, chrf.alias("chrf"))


def lcs_len_col(cand_arr: Column, ref_arr: Column,
                max_ref: "int | None" = None) -> Column:
    """Longest-common-subsequence length of two token arrays as a pure
    JVM integer DP. Two exact paths, both all-integer (the value
    replays bit-for-bit in any engine):

    * ``max_ref`` given and ≤ 52 (the caller guarantees the REFERENCE
      side is at most that many tokens — e.g. :func:`rouge_l_corpus`'s
      eval window): the Allison–Dix 1986 bit-parallel form. The DP row
      lives in ONE int64 (bit j−1 clear ⟺ row increased at column j);
      per candidate token the row updates with three bitwise ops
      S = ((S + (S&M)) | (S&~M)) & full, where M is the mask of
      reference positions equal to that token. Masks come from an
      O(m) inner fold of 2^(j−1) terms (exact: position weights are
      pow-of-2 doubles ≤ 2^51, disjoint bits ⟹ sum ≡ OR), so a pair
      costs O(n·m) scalar JVM ops and ZERO array allocations —
      measured ~8× faster than the row-array fold below at m = 32.
      LCS = m − bit_count(S). Fuzz-pinned against the row form in
      tests/test_rouge.py.

    * otherwise: the nested higher-order fold (the unigram-Viterbi
      machinery) — the outer ``aggregate`` walks candidate tokens
      carrying the DP row (array<int>, length m+1); the inner
      ``aggregate`` rebuilds the row left-to-right, because new[j]
      needs new[j-1] (new[j] = eq ? old[j-1]+1 : max(old[j],
      new[j-1])). Cost O(n·m²) per pair (array append copies) —
      callers bound both sides.

    Empty either side → 0, expressed explicitly (the
    sequence(1,0)-descends trap)."""
    n, m = F.size(cand_arr), F.size(ref_arr)
    if max_ref is not None and max_ref <= 52:
        zero = F.lit(0).cast("long")
        # (token, 2^(j-1)) per reference position; pow is exact for
        # exponents ≤ 52 (the max_ref gate), cast back to int64
        refb = F.zip_with(
            ref_arr, F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
            lambda w, j: F.struct(
                w.alias("w"),
                F.pow(F.lit(2.0), (j - F.lit(1)).cast("double"))
                .cast("long").alias("b")))
        # all m bits set: disjoint single-bit terms, so sum == OR
        full = F.aggregate(refb, zero, lambda acc, z: acc + z["b"])
        # per-candidate-token equality masks (disjoint bits ⟹ sum ≡ OR)
        masks = F.transform(
            cand_arr,
            lambda h: F.aggregate(
                refb, zero,
                lambda acc, z: acc + F.when(z["w"] == h, z["b"])
                .otherwise(zero)))
        fold = F.aggregate(
            masks, full,
            lambda S, Mc: (S + S.bitwiseAND(Mc))
            .bitwiseOR(S.bitwiseAND(F.bitwise_not(Mc)))
            .bitwiseAND(full))
        return F.when((n >= 1) & (m >= 1),
                      (m.cast("long") - F.bit_count(fold))) \
            .otherwise(F.lit(0)).cast("long")
    refz = F.zip_with(
        ref_arr, F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
        lambda w, j: F.struct(w.alias("w"), j.alias("j")))
    row0 = F.transform(F.sequence(F.lit(0), F.greatest(m, F.lit(1))),
                       lambda _: F.lit(0))
    fold = F.aggregate(
        cand_arr, row0,
        lambda old, h: F.aggregate(
            refz, F.array(F.lit(0)),
            lambda acc, z: F.concat(acc, F.array(
                F.when(h == z["w"],
                       F.element_at(old, z["j"]) + F.lit(1))
                .otherwise(F.greatest(
                    F.element_at(old, z["j"] + F.lit(1)),
                    F.element_at(acc, F.lit(-1))))))))
    return F.when((n >= 1) & (m >= 1),
                  F.element_at(fold, m + F.lit(1))) \
        .otherwise(F.lit(0)).cast("long")


def rouge_l_corpus(pairs: DataFrame, cand_col: str, ref_col: str,
                  id_col: str = "doc_id",
                  max_words: int = 32) -> DataFrame:
    """Corpus ROUGE-L (Lin 2004) of a candidate text column against a
    reference — the LCS-based summarization eval completing the
    overlap family (BLEU = n-gram precision, chrF = char F-score,
    WER = edit distance, ROUGE-L = in-order recall without requiring
    contiguity). Micro-averaged over the corpus: with S = Σ lcs,
    H = Σ candidate tokens, M = Σ reference tokens,
    P = S/H, R = S/M, and the F1 harmonic mean collapses to
    2S/(H+M) — so all three are exact 6-dp integer ratios (house
    ``_ratio6``), no float accumulation anywhere.

    Both sides are truncated to the first ``max_words`` whitespace
    tokens (the documented evaluation window, also what bounds the
    O(n·m²) per-pair DP of :func:`lcs_len_col`). Map-only per pair +
    one global aggregate: the corpus never shuffles rows. ONE row out:
    (n_pairs, lcs_sum, cand_words, ref_words, rouge_p, rouge_r,
    rouge_f); ratios NULL on a zero denominator."""
    from .text import _ratio6, words_col

    def toks(c):
        return F.slice(F.filter(words_col(c), lambda x: x != ""),
                       1, max_words)

    per = pairs.select(
        F.col(id_col),
        toks(F.col(cand_col)).alias("_c"),
        toks(F.col(ref_col)).alias("_r"))
    per = per.select(
        lcs_len_col(F.col("_c"), F.col("_r"),
                    max_ref=max_words).alias("_l"),
        F.size("_c").cast("long").alias("_nc"),
        F.size("_r").cast("long").alias("_nr"))
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("_l").cast("long").alias("lcs_sum"),
        F.sum("_nc").cast("long").alias("cand_words"),
        F.sum("_nr").cast("long").alias("ref_words"))
    S, H, M = F.col("lcs_sum"), F.col("cand_words"), F.col("ref_words")
    return tot.select(
        "n_pairs", "lcs_sum", "cand_words", "ref_words",
        F.when(H > 0, _ratio6(S, H)).alias("rouge_p"),
        F.when(M > 0, _ratio6(S, M)).alias("rouge_r"),
        F.when(H + M > 0, _ratio6(F.lit(2) * S, H + M))
        .alias("rouge_f"))


def isotonic_calibrate(scored: DataFrame, score_col: str,
                       label_col: str,
                       max_buckets: int = 100_000) -> DataFrame:
    """Isotonic calibration by pool-adjacent-violators (PAV) — the
    classic nonparametric calibrator (Zadrozny & Elkan 2002), fitting
    the best monotone map from an integer-quantized score to an
    empirical probability. The mlfit contract shape: ONE corpus
    aggregate (per-score n / n_pos histogram, exact int64) feeds a
    bounded driver-side fold over the dict-sized histogram, and the
    fold itself is EXACT — the only arithmetic PAV needs is the
    violation test rate(a) > rate(b), done by integer
    cross-multiplication (pos_a·n_b > pos_b·n_a), so the block
    structure replays bit-for-bit in any engine; the single float is
    the house exact 6-dp ratio at the very end. Equal-rate neighbors
    are NOT merged (their calibrated values are equal either way, so
    the output is invariant — but the convention is pinned for the
    replay).

    Returns one row per distinct score: (score, n, n_pos, blk_n,
    blk_pos, cal) with cal monotone nondecreasing in score. Raises if
    the score column has more than ``max_buckets`` distinct values —
    quantize first (the auc_exact / ece_from_scores contract)."""
    from .text import _ratio6

    hist = (scored.groupBy(F.col(score_col).alias("score"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum(F.col(label_col).cast("long")).cast("long")
                 .alias("n_pos"))
            .orderBy("score"))
    rows = hist.collect()
    if len(rows) > max_buckets:
        raise ValueError(
            f"isotonic_calibrate: {len(rows)} distinct scores exceeds "
            f"max_buckets={max_buckets} — quantize the score first")
    # PAV: each stack block is [n, pos, n_buckets]; merge while the
    # previous block's rate exceeds the top's (strict, integer-exact)
    stk: list = []
    for r in rows:
        stk.append([r["n"], r["n_pos"], 1])
        while len(stk) >= 2 and stk[-2][1] * stk[-1][0] \
                > stk[-1][1] * stk[-2][0]:
            b = stk.pop()
            stk[-1][0] += b[0]
            stk[-1][1] += b[1]
            stk[-1][2] += b[2]
    out = []
    i = 0
    for bn, bp, cnt in stk:
        for _ in range(cnt):
            r = rows[i]
            out.append((r["score"], r["n"], r["n_pos"], bn, bp))
            i += 1
    res = scored.sparkSession.createDataFrame(
        out, "score long, n long, n_pos long, blk_n long, "
             "blk_pos long")
    return res.select(
        "score", "n", "n_pos", "blk_n", "blk_pos",
        _ratio6(F.col("blk_pos"), F.col("blk_n")).alias("cal"))

