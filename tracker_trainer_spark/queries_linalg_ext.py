"""Iterative linear algebra / CEP pattern queries.

- ``embedding_top_pc`` — the leading principal component of the
  embedding corpus by IN-ENGINE power iteration: center, build the
  d×d covariance as a relation, then three unrolled matvec+normalize
  rounds — the iterative-linear-algebra operator class (distributed
  PCA) with every round oracle-reproducible. The same round-6
  quantization guard as the Lloyd trainers keeps each round's INPUTS
  bit-equal across engines, so only within-round sum order can differ
  and the post-normalization round absorbs it.
- ``event_pattern_match`` — MATCH_RECOGNIZE-style complex-event
  detection: each user's time-ordered event-type sequence is rendered
  as an initials string and scanned for funnel patterns with a regex
  (strict contiguous ``v+c+p`` and a noise-tolerant variant) —
  the CEP operator class, with exact integer outputs (regex match
  counting has no FP surface at all).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _t(spark, sf_dir, name):
    from tracker_trainer_spark.queries import _t as _load

    return _load(spark, sf_dir, name)


def r4(c):
    return F.round(c, 4)


# --------------------------------------------------------------------------
# Leading principal component via unrolled power iteration
# --------------------------------------------------------------------------

_PC_ROUNDS = 3
_PC_DIM = 64  # embeddings are fixed 64-dim; iteration init = 1/(2^3)


def _pc_normalize(w):
    """round(w / w_pivot, 6) where pivot = the component with max |w|
    (ties to the lowest pos). Dividing by the SIGNED pivot pins the
    eigenvector's sign (pivot component becomes exactly 1.0); the
    round-6 re-quantizes so the next round's input vector is bit-equal
    across engines (the Lloyd-means guard). The pivot rides a
    full-frame window over the same 64-row relation — a broadcast
    crossJoin here would add one eager broadcast subtree PER ROUND,
    each re-materializing the whole earlier-round chain."""
    from pyspark.sql.window import Window

    wall = Window.orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    pivot = F.max(F.struct(F.abs(F.col("w")).alias("a"),
                           (-F.col("pos")).alias("np"),
                           F.col("w").alias("wv"))).over(wall)["wv"]
    return w.select(
        "pos", F.round(F.col("w") / pivot, 6).alias("v"))


def embedding_top_pc(spark, sf_dir):
    """Top principal component of the embedding corpus — centered
    covariance + ``_PC_ROUNDS`` power-iteration rounds, entirely
    in-engine (the covariance never reaches the driver; each matvec is
    one broadcast join + one hash agg over the d² relation).

    Quantization contract (both engines, identical literals): the mean
    vector, every covariance entry, and every round's normalized
    vector round to 6 decimals, so iteration inputs are bit-equal by
    construction; within-round sums (2000-term covariance sums,
    64-term matvecs) may differ in the last ulp between engines and
    the post-division round-6 absorbs that. Scale: the corpus
    contributes one exploded pair agg (n·d² rows map-side combined);
    rounds touch only the d²-row covariance relation."""
    import numpy as np
    import pandas as pd

    dim = _PC_DIM
    emb = _t(spark, sf_dir, "embeddings")

    def gram(batches):
        """Per-partition UNCENTERED Gram + column-sum accumulation: ONE
        BLAS matmul per Arrow batch, d² + d + 1 partial rows per
        PARTITION — the 100 TB shape (a relational pair explode ships
        n·d² rows into the aggregate; this ships partitions·d²).
        Sentinels: i = -1 rows carry the column sums T_j, the
        (-1, -1) row the partition row count."""
        acc = np.zeros((dim, dim))
        tvec = np.zeros(dim)
        cnt = 0
        for pdf in batches:
            X = np.asarray(pdf["emb"].tolist(), dtype=np.float64)
            acc += X.T @ X
            tvec += X.sum(axis=0)
            cnt += len(pdf)
        if cnt == 0:
            # empty partition/corpus: zero contribution either way, and
            # an all-empty corpus must yield ZERO rows (the oracle's
            # empty CTEs), not 64 NaN loadings from n = 0 sentinels
            return
        ii, jj = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
        yield pd.DataFrame({
            "i": np.concatenate(
                [ii.ravel(), -np.ones(dim), [-1]]).astype("int32"),
            "j": np.concatenate(
                [jj.ravel(), np.arange(dim), [-1]]).astype("int32"),
            "s": np.concatenate([acc.ravel(), tvec, [float(cnt)]]),
        })

    partials = emb.select(
        F.transform("embedding", lambda c: c.cast("double")).alias("emb")
    ).mapInPandas(gram, "i int, j int, s double")
    sums = partials.groupBy("i", "j").agg(F.sum("s").alias("s"))
    n_df = (
        sums.where((F.col("i") == -1) & (F.col("j") == -1))
        .select(F.col("s").cast("long").alias("n"))
    )
    t_df = (
        sums.where((F.col("i") == -1) & (F.col("j") >= 0))
        .select(F.col("j").alias("tj"), F.col("s").alias("t"))
    )
    # centered covariance by the rank-1 identity
    # c_ij = (S_ij − T_i·T_j/n) / (n−1): no separate mean pass, no
    # cancellation hazard for near-zero-mean embedding columns. The
    # oracle computes the identical formula from relational SUMs.
    cov = (
        sums.where(F.col("i") >= 0)
        .join(F.broadcast(t_df.select(F.col("tj").alias("i_k"),
                                      F.col("t").alias("ti"))),
              F.col("i") == F.col("i_k"))
        .join(F.broadcast(t_df.select(F.col("tj").alias("j_k"),
                                      F.col("t").alias("tj_"))),
              F.col("j") == F.col("j_k"))
        .crossJoin(F.broadcast(n_df))
        .select(
            "i", "j",
            F.round(
                (F.col("s")
                 - F.col("ti") * F.col("tj_") / F.col("n").cast("double"))
                / (F.col("n") - 1).cast("double"), 6).alias("c"))
    )
    # rounds reuse the checkpointed d²-row covariance, never rebuild it;
    # r9: the checkpoint memoizes per session (trained_artifact — the
    # covariance is deterministic over the immutable corpus and
    # round-6-quantized, so repeat constructions skip the Gram pass;
    # VERDICT r8 item 5 "memoize")
    from tracker_trainer_spark.queries import trained_artifact
    cov = trained_artifact(
        spark, ("pc_cov", sf_dir),
        lambda c=cov: c.localCheckpoint(eager=True))
    v = spark.range(_PC_DIM).select(
        F.col("id").cast("int").alias("pos"), F.lit(0.125).alias("v"))
    for _ in range(_PC_ROUNDS):
        vj = v.select(F.col("pos").alias("vpos"), "v")
        w = (
            cov.join(vj, cov["j"] == vj["vpos"])
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("v")).alias("w"))
            .select(F.col("i").alias("pos"), "w")
        )
        v = _pc_normalize(w)
    # NO second rounding: v is already round-6-quantized identically on
    # both engines; round(round6, 4) re-rounds a decimal that CAN sit
    # exactly on a 4-dp midpoint where Spark (decimal HALF_UP) and
    # DuckDB (binary) disagree. +0.0 normalizes -0.0 loadings.
    return v.select(
        "pos", (F.col("v") + F.lit(0.0)).alias("loading")
    ).orderBy("pos")


def _pc_sql():
    rounds = []
    prev = "v0"
    for r in range(1, _PC_ROUNDS + 1):
        rounds.append(f"""w{r} AS (
  SELECT cov.i AS pos, sum(cov.c * {prev}.v) AS w
  FROM cov JOIN {prev} ON cov.j = {prev}.pos
  GROUP BY 1
), p{r} AS (
  SELECT (max(struct_pack(a := abs(w), np := -pos, wv := w))).wv AS pv
  FROM w{r}
), v{r} AS (
  SELECT pos, round(w / pv, 6) AS v FROM w{r}, p{r}
)""")
        prev = f"v{r}"
    return f"""
WITH x AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
), tv AS (
  SELECT pos, sum(v) AS t FROM x GROUP BY 1
), gr AS (
  SELECT a.pos AS i, b.pos AS j, sum(a.v * b.v) AS s
  FROM x a JOIN x b ON a.vec_id = b.vec_id
  GROUP BY 1, 2
), cov AS (
  SELECT gr.i, gr.j,
         round((gr.s - ti.t * tj.t / CAST(nn.n AS DOUBLE))
               / CAST(nn.n - 1 AS DOUBLE), 6) AS c
  FROM gr
  JOIN tv ti ON gr.i = ti.pos
  JOIN tv tj ON gr.j = tj.pos
  CROSS JOIN nn
), v0 AS (
  SELECT CAST(range AS INT) AS pos, 0.125e0 AS v FROM range({_PC_DIM})
), {", ".join(rounds)}
SELECT pos, v + 0.0 AS loading
FROM {prev}
ORDER BY pos
"""


# --------------------------------------------------------------------------
# CEP funnel-pattern matching over per-user event sequences
# --------------------------------------------------------------------------

_PAT_STRICT = "v+c+p"          # contiguous view(s) -> click(s) -> purchase
_PAT_RELAXED = "v+[se]*c+[se]*p"  # strict + signup/error noise inside


def event_pattern_match(spark, sf_dir):
    """MATCH_RECOGNIZE-style pattern detection: each user's
    time-ordered event-type sequence (rendered as an initials string —
    the 5 types have distinct initials) is scanned for the strict
    contiguous view→click→purchase funnel and a noise-tolerant variant
    that lets signup/error events sit inside the funnel. Both engines
    count non-overlapping leftmost regex matches — exact integer
    outputs, no FP surface.

    One shuffle: the per-user sequence string folds out of a single
    (user) hash agg; the regex scan is a scan-side expression over the
    150-row (at any SF: |users|-row) sequence relation."""
    ev = _t(spark, sf_dir, "events")
    seqs = (
        ev.groupBy("user_id")
        .agg(F.sort_array(F.collect_list(
            F.struct("ts", "event_id", "event_type"))).alias("arr"))
        .select(
            "user_id",
            F.expr(
                "array_join(transform(arr,"
                " x -> substring(x.event_type, 1, 1)), '')"
            ).alias("seq"),
        )
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("long").alias("n_events"),
        F.regexp_count("seq", F.lit(_PAT_STRICT)).cast("long")
        .alias("n_strict_funnels"),
        F.regexp_count("seq", F.lit(_PAT_RELAXED)).cast("long")
        .alias("n_relaxed_funnels"),
    ).orderBy("user_id")


PATTERN_SQL = f"""
WITH seqs AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS seq
  FROM events GROUP BY 1
)
SELECT user_id,
       CAST(length(seq) AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(seq, '{_PAT_STRICT}')) AS BIGINT)
         AS n_strict_funnels,
       CAST(len(regexp_extract_all(seq, '{_PAT_RELAXED}')) AS BIGINT)
         AS n_relaxed_funnels
FROM seqs
ORDER BY user_id
"""


# (name, query, DuckDB oracle SQL) rows; queries.py assembles the registry.
REGISTRY = (
    ("embedding_top_pc", embedding_top_pc, _pc_sql()),
    ("event_pattern_match", event_pattern_match, PATTERN_SQL),
)
