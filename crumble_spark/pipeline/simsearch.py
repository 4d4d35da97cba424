"""Similarity search over the embeddings table (array<float>, 64-dim).

* brute-force cosine top-k — the correctness baseline: broadcast the query
  set, JVM-side zip_with/aggregate dot products, window top-k;
* sign-bucket (LSH/IVF-style) top-k — the scale path: candidates are
  restricted to the query's bucket, turning the O(N·Q) scan into a
  per-bucket join.  At 100 TB the bucket table is the inverted index.
* embedding near-dup pairs — cosine >= threshold within buckets.

Determinism contract: all dot products fold left-to-right in double
precision (Spark aggregate ≡ DuckDB list_reduce over list_prepend), so
oracle comparison is bit-exact; outputs expose floor-scaled e6 integers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

N_QUERIES = 10
TOP_K = 5
NEARDUP_COS = 0.4

_DOT_SQL = (
    "list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64), "
    "i -> {a}[i] * {b}[i])), (x, y) -> x + y)"
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb = F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    return e.select("vec_id", emb).withColumn("nrm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))


_EMB_CTE = (
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), "
    "n AS (SELECT vec_id, emb, sqrt(" + _DOT_SQL.format(a="emb", b="emb") + ") AS nrm FROM e)"
)


def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine for the first N_QUERIES vectors.

    Plan shape: broadcast(queries) × scan(corpus) — one pass over the big
    side, no shuffle of the corpus; the window top-k shuffles only
    (q_id, candidate) rows.

    BOUNDARY (VERDICT r5 #6): this is the O(N·Q) recall oracle the
    scaled/IVF paths are measured against, never the deploy path.  The
    per-q_id top-k window intentionally drags all N candidate rows of a
    query through one task — acceptable at harness scale only.  Do not
    "fix" it: the scale paths are q_ann_scaled_topk / q_ann_ivf_topk,
    and their recall floors are pinned against exactly this output.
    """
    e = _embeddings(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
    cos = _dot(F.col("q_emb"), F.col("emb")) / (F.col("q_nrm") * F.col("nrm"))
    ranked = pairs.select(
        "q_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos")
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= TOP_K).select(
        "q_id",
        "neighbor_id",
        F.floor(F.col("cos") * 1_000_000).cast("long").alias("cos_e6"),
        F.col("rank").cast("int").alias("rank"),
    )


Q_ANN_BRUTE_SQL = (
    _EMB_CTE
    + ", p AS (SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id, "
    + _DOT_SQL.format(a="q.emb", b="v.emb")
    + " / (q.nrm * v.nrm) AS cos FROM n q JOIN n v ON q.vec_id < "
    + str(N_QUERIES)
    + " AND v.vec_id <> q.vec_id), "
    "r AS (SELECT q_id, neighbor_id, cos, row_number() OVER "
    "(PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rank FROM p) "
    "SELECT q_id, neighbor_id, CAST(floor(cos * 1000000) AS BIGINT) AS cos_e6, "
    f"CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= {TOP_K}"
)


# --- N-scaled buckets + multi-probe (the 10^12-row path) ---------------------
#
# A fixed 2^8 bucket table keeps bucket population growing linearly with
# corpus size.  The scaled variant derives the bucket bit-count from N
# so buckets hold ~ANN_TARGET_BUCKET rows regardless of corpus size
# (nb = clamp(ceil(log2(N / target)), 4, 16) — spelled as an integer
# threshold chain so Spark and DuckDB agree exactly), and probes the
# query's bucket plus all hamming-1 neighbors to recover the recall that
# narrower buckets would otherwise cost.

ANN_TARGET_BUCKET = 64
ANN_MIN_BITS, ANN_MAX_BITS = 4, 16
# nb >= b iff N > target * 2^(b-1); thresholds generated once, used verbatim
# in both engines
_NB_THRESHOLDS = [(b, ANN_TARGET_BUCKET * (1 << (b - 1))) for b in range(ANN_MAX_BITS, ANN_MIN_BITS, -1)]


def _nb_col(n: Column) -> Column:
    expr = F.lit(ANN_MIN_BITS)
    for b, thresh in reversed(_NB_THRESHOLDS):
        expr = F.when(n > thresh, F.lit(b)).otherwise(expr)
    return expr


_NB_SQL = (
    "CASE "
    + " ".join(f"WHEN n > {t} THEN {b}" for b, t in _NB_THRESHOLDS)
    + f" ELSE {ANN_MIN_BITS} END"
)


def _scaled_bucket(emb: Column, nb: Column) -> Column:
    """Sign-bit bucket over the first `nb` dims, as a left fold
    (acc*2 + bit) so no shift-by-column is needed; bit for dim i carries
    weight 2^(nb-i)."""
    bit = lambda i: F.when(F.element_at(emb, i) > 0, F.lit(1)).otherwise(F.lit(0))
    return F.aggregate(
        F.sequence(F.lit(1), nb),
        F.lit(0).cast("long"),
        lambda acc, i: acc * 2 + bit(i).cast("long"),
    )


_SCALED_BUCKET_SQL = (
    "CAST(list_reduce(list_prepend(0, list_transform(generate_series(1, {nb}), "
    "i -> CASE WHEN {emb}[i] > 0 THEN 1 ELSE 0 END)), (a, x) -> a * 2 + x) AS BIGINT)"
)


def _scaled_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embeddings(spark, sf_dir)
    nbdf = e.agg(F.count("*").alias("corpus_n")).select(
        _nb_col(F.col("corpus_n")).alias("nb")
    )
    eb = e.crossJoin(F.broadcast(nbdf))
    return eb.withColumn("bucket", _scaled_bucket(F.col("emb"), F.col("nb")))


def _with_probes(df: DataFrame, emb_col: str, max_ham: int = 1) -> DataFrame:
    """Explode each row (carrying `bucket` and `nb`) into its own bucket
    plus every hamming-1 neighbor as `p_bucket` — and, at max_ham=2, every
    hamming-2 neighbor too.  Bit i of the bucket fold carries weight
    2^(nb-i), so flipping it adds (1 - 2*bit) * 2^(nb-i); distinct flip
    sets give distinct probe values, so no candidate is double-counted.
    Probe count is 1 + nb (+ nb(nb-1)/2) per row — at the nb=16 cap that
    is 137 rows per QUERY, so the broadcast stays tiny regardless of N."""
    delta = lambda i: (
        (F.lit(1) - 2 * F.when(F.element_at(emb_col, i) > 0, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        * F.pow(F.lit(2.0), (F.col("nb") - i).cast("double")).cast("long")
    )
    one = F.transform(F.sequence(F.lit(1), F.col("nb")), lambda i: F.col("bucket") + delta(i))
    probes = F.concat(F.array(F.col("bucket")), one)
    if max_ham >= 2:
        # i<j pairs via a guarded inner transform (Spark sequence(a, b)
        # counts DOWN when a > b, so filter nulls instead of seq(i+1, nb))
        two = F.filter(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.col("nb")),
                    lambda i: F.transform(
                        F.sequence(F.lit(1), F.col("nb")),
                        lambda j: F.when(j > i, F.col("bucket") + delta(i) + delta(j)),
                    ),
                )
            ),
            lambda x: x.isNotNull(),
        )
        probes = F.concat(probes, two)
    return df.withColumn("p_bucket", F.explode(probes))


def q_ann_scaled_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k with N-scaled bucket bits and hamming-≤2 multi-probe.

    Plan: corpus gets one bucket each; every query expands to
    1 + nb + nb(nb-1)/2 probe buckets (own, each single flip, each pair
    flip — r3: hamming-2 raised measured recall@5 from 0.54 to ≥0.8 at
    test scale); candidates come from an equi-join on the bucket value.
    Bucket population stays ~ANN_TARGET_BUCKET as N grows because nb
    grows with log2(N); at 10^12 rows this is the inverted-index/IVF
    shape with 2^16 lists.  The probe fan-out multiplies only the QUERY
    side (tiny, broadcast), never the corpus.
    """
    eb = _scaled_base(spark, sf_dir)
    q = eb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "bucket",
        "nb",
    )
    probes = _with_probes(q, "q_emb", max_ham=2).select("q_id", "q_emb", "q_nrm", "p_bucket")
    pairs = eb.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("p_bucket")) & (F.col("vec_id") != F.col("q_id")),
    )
    cos = _dot(F.col("q_emb"), F.col("emb")) / (F.col("q_nrm") * F.col("nrm"))
    ranked = pairs.select(
        "q_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos")
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= TOP_K).select(
        "q_id",
        "neighbor_id",
        F.floor(F.col("cos") * 1_000_000).cast("long").alias("cos_e6"),
        F.col("rank").cast("int").alias("rank"),
    )


_SCALED_CTE = (
    _EMB_CTE
    + f", cnt AS (SELECT count(*) AS n FROM e), nbv AS (SELECT {_NB_SQL} AS nb FROM cnt), "
    "b AS (SELECT vec_id, emb, nrm, "
    + _SCALED_BUCKET_SQL.format(nb="(SELECT nb FROM nbv)", emb="emb")
    + " AS bucket FROM n)"
)

_FLIP_SQL = (
    "CAST((1 - 2 * (CASE WHEN q_emb[{d}] > 0 THEN 1 ELSE 0 END)) AS BIGINT) "
    "* CAST(pow(2, (SELECT nb FROM nbv) - {d}) AS BIGINT)"
)

Q_ANN_SCALED_SQL = (
    _SCALED_CTE
    + f", q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm, bucket FROM b WHERE vec_id < {N_QUERIES}), "
    "probes AS (SELECT q_id, q_emb, q_nrm, bucket FROM q "
    "UNION ALL "
    "SELECT q_id, q_emb, q_nrm, bucket + " + _FLIP_SQL.format(d="i") + " AS bucket "
    "FROM q, (SELECT unnest(generate_series(1, (SELECT nb FROM nbv))) AS i) s "
    "UNION ALL "
    "SELECT q_id, q_emb, q_nrm, "
    "bucket + " + _FLIP_SQL.format(d="i") + " + " + _FLIP_SQL.format(d="j") + " AS bucket "
    "FROM q, (SELECT unnest(generate_series(1, (SELECT nb FROM nbv))) AS i) si, "
    "(SELECT unnest(generate_series(1, (SELECT nb FROM nbv))) AS j) sj WHERE j > i), "
    "p AS (SELECT pr.q_id, v.vec_id AS neighbor_id, "
    + _DOT_SQL.format(a="pr.q_emb", b="v.emb")
    + " / (pr.q_nrm * v.nrm) AS cos FROM b v JOIN probes pr "
    "ON v.bucket = pr.bucket AND v.vec_id <> pr.q_id), "
    "r AS (SELECT q_id, neighbor_id, cos, row_number() OVER "
    "(PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rank FROM p) "
    "SELECT q_id, neighbor_id, CAST(floor(cos * 1000000) AS BIGINT) AS cos_e6, "
    f"CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= {TOP_K}"
)


def q_ann_recall_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the N-scaled multi-probe search against the brute
    baseline — proves recall holds as buckets deepen (the 'Done' gate for
    the scaled path)."""
    # lazy checkpoint (r8): brute feeds BOTH the hits join and the n_true
    # branch — without it the O(N*Q) brute scan executes twice (the same
    # fix q_ann_probe_tradeoff already carries); lazy, so nothing runs at
    # DataFrame-construction time
    brute = (
        q_ann_brute_topk(spark, sf_dir)
        .select("q_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    approx = q_ann_scaled_topk(spark, sf_dir).select("q_id", "neighbor_id")
    hits = brute.join(approx, ["q_id", "neighbor_id"]).groupBy("q_id").agg(
        F.count("*").alias("n_hits")
    )
    return (
        brute.groupBy("q_id")
        .agg(F.count("*").alias("n_true"))
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("int").alias("n_hits"),
            F.col("n_true").cast("int").alias("n_true"),
        )
    )


Q_ANN_RECALL_SCALED_SQL = (
    "WITH brute AS (SELECT q_id, neighbor_id FROM (" + Q_ANN_BRUTE_SQL + ")), "
    "approx AS (SELECT q_id, neighbor_id FROM (" + Q_ANN_SCALED_SQL + ")), "
    "h AS (SELECT b.q_id, count(*) AS n_hits FROM brute b "
    "JOIN approx a ON a.q_id = b.q_id AND a.neighbor_id = b.neighbor_id GROUP BY b.q_id) "
    "SELECT t.q_id, CAST(coalesce(h.n_hits, 0) AS INTEGER) AS n_hits, "
    "CAST(t.n_true AS INTEGER) AS n_true "
    "FROM (SELECT q_id, count(*) AS n_true FROM brute GROUP BY q_id) t "
    "LEFT JOIN h ON h.q_id = t.q_id"
)


def q_embedding_neardup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs over N-scaled buckets with hamming-1 probing.

    Each vector probes its own bucket plus every single-bit flip; a pair
    whose buckets differ by one bit is found exactly once (probe side is
    pinned to the smaller vec_id).  Per-bucket population is held at
    ~ANN_TARGET_BUCKET by the N-derived bit count, so the within-bucket
    pair expansion is O(N * (nb+1) * target) — linear in N — instead of
    the fixed-bucket O(N^2/256)."""
    eb = _scaled_base(spark, sf_dir)
    a_side = eb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
        "bucket",
        "nb",
    )
    probes = _with_probes(a_side, "a_emb").select("vec_a", "a_emb", "a_nrm", "p_bucket")
    pairs = probes.join(
        eb,
        (F.col("p_bucket") == F.col("bucket")) & (F.col("vec_a") < F.col("vec_id")),
    )
    cos = _dot(F.col("a_emb"), F.col("emb")) / (F.col("a_nrm") * F.col("nrm"))
    return (
        pairs.select(
            "vec_a", F.col("vec_id").alias("vec_b"), cos.alias("cos")
        )
        .filter(F.col("cos") >= NEARDUP_COS)
        .select(
            "vec_a", "vec_b", F.floor(F.col("cos") * 1_000_000).cast("long").alias("cos_e6")
        )
    )


Q_EMB_NEARDUP_SCALED_SQL = (
    _SCALED_CTE
    + ", probes AS (SELECT vec_id AS vec_a, emb AS a_emb, nrm AS a_nrm, bucket FROM b "
    "UNION ALL "
    "SELECT vec_id AS vec_a, emb AS a_emb, nrm AS a_nrm, "
    "bucket + CAST((1 - 2 * (CASE WHEN emb[i] > 0 THEN 1 ELSE 0 END)) AS BIGINT) "
    "* CAST(pow(2, (SELECT nb FROM nbv) - i) AS BIGINT) AS bucket "
    "FROM b, (SELECT unnest(generate_series(1, (SELECT nb FROM nbv))) AS i) s), "
    "p AS (SELECT pr.vec_a, v.vec_id AS vec_b, "
    + _DOT_SQL.format(a="pr.a_emb", b="v.emb")
    + " / (pr.a_nrm * v.nrm) AS cos FROM probes pr JOIN b v "
    "ON v.bucket = pr.bucket AND pr.vec_a < v.vec_id) "
    "SELECT vec_a, vec_b, CAST(floor(cos * 1000000) AS BIGINT) AS cos_e6 "
    f"FROM p WHERE cos >= {NEARDUP_COS}"
)


def q_bucket_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket centroid accumulators — the IVF training step of the
    ANN scale path (bucket → sum/count per dimension; the caller divides).

    Determinism contract: elements are floor-scaled to e6 integers BEFORE
    summing, so the aggregation is order-free and bit-equal across
    engines (a double sum would depend on shuffle order).  Scale shape:
    posexplode → groupBy(bucket, pos) is map-side combinable and the
    shuffle carries at most 2^16 buckets x 64 dims partial sums.
    """
    eb = _scaled_base(spark, sf_dir)
    ex = eb.select(
        "bucket",
        F.posexplode("emb").alias("pos", "x"),
    ).select("bucket", "pos", F.floor(F.col("x") * 1_000_000).cast("long").alias("xe"))
    return ex.groupBy("bucket", "pos").agg(
        F.count("*").alias("n_vecs"),
        F.sum("xe").alias("sum_e6"),
    ).select("bucket", F.col("pos").cast("int").alias("pos"), "n_vecs", "sum_e6")


Q_BUCKET_CENTROIDS_SQL = (
    _SCALED_CTE
    + ", ex AS (SELECT bucket, i - 1 AS pos, "
    "CAST(floor(emb[i] * 1000000) AS BIGINT) AS xe "
    "FROM b, (SELECT unnest(generate_series(1, 64)) AS i) s) "
    "SELECT bucket, CAST(pos AS INTEGER) AS pos, count(*) AS n_vecs, "
    "CAST(sum(xe) AS BIGINT) AS sum_e6 FROM ex GROUP BY 1, 2"
)


IVF_NPROBE = 8  # coarse lists searched per query


def _ivf_ranked_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, q_emb, q_nrm, bucket, r): every query's coarse lists ranked
    by centroid dot product — the shared front half of the IVF queries.
    Determinism contract (the oracle depends on it): centroid components
    are sum_e6 / n_vecs (exact int → one double division), dot products
    fold left-to-right, rank ties break on list id."""
    eb = _scaled_base(spark, sf_dir)
    cent = (
        q_bucket_centroids(spark, sf_dir)
        .withColumn("c", F.col("sum_e6") / F.col("n_vecs"))
        .groupBy("bucket")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cvec")
        )
    )
    q = eb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    return (
        q.join(cent, F.lit(True))
        .select(
            "q_id", "q_emb", "q_nrm", "bucket",
            _dot(F.col("q_emb"), F.col("cvec")).alias("s"),
        )
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("s"), F.asc("bucket"))
            ),
        )
    )


# shared CTE half of the IVF oracles: cx/cent/q/rl mirror _ivf_ranked_lists
_IVF_RANKED_CTE = (
    ", cx AS (SELECT bucket, i - 1 AS pos, count(*) AS n_vecs, "
    "CAST(sum(CAST(floor(emb[i] * 1000000) AS BIGINT)) AS BIGINT) AS sum_e6 "
    "FROM b, (SELECT unnest(generate_series(1, 64)) AS i) s GROUP BY 1, 2), "
    "cent AS (SELECT bucket, list(sum_e6 * 1.0 / n_vecs ORDER BY pos) AS cvec FROM cx GROUP BY bucket), "
    f"q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM b WHERE vec_id < {N_QUERIES}), "
    "rl AS (SELECT q_id, q_emb, q_nrm, bucket, row_number() OVER "
    "(PARTITION BY q_id ORDER BY "
    + _DOT_SQL.format(a="q_emb", b="cvec")
    + " DESC, bucket ASC) AS r FROM q, cent)"
)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IVF search: the trained coarse quantizer
    (q_bucket_centroids' per-list integer-e6 sums) ranks lists per query
    by dot product, the top IVF_NPROBE lists are searched exactly —
    train → probe → search, the full IVF loop, all oracle-checked.

    Scale shape: the centroid table is #lists x 64 partial sums (≤2^16
    lists at the bit cap — broadcastable, no hint needed), so query-list
    scoring never touches the corpus; the candidate join is an equi-join
    on the list id with per-list population held near ANN_TARGET_BUCKET
    by the N-derived bit count.
    """
    eb = _scaled_base(spark, sf_dir)
    probes = (
        _ivf_ranked_lists(spark, sf_dir)
        .filter(F.col("r") <= IVF_NPROBE)
        .select("q_id", "q_emb", "q_nrm", "bucket")
    )
    pairs = eb.join(probes, ["bucket"]).filter(F.col("vec_id") != F.col("q_id"))
    cos = _dot(F.col("q_emb"), F.col("emb")) / (F.col("q_nrm") * F.col("nrm"))
    ranked = pairs.select(
        "q_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos")
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= TOP_K).select(
        "q_id",
        "neighbor_id",
        F.floor(F.col("cos") * 1_000_000).cast("long").alias("cos_e6"),
        F.col("rank").cast("int").alias("rank"),
    )


Q_ANN_IVF_SQL = (
    _SCALED_CTE
    + _IVF_RANKED_CTE
    + f", pr AS (SELECT q_id, q_emb, q_nrm, bucket FROM rl WHERE r <= {IVF_NPROBE}), "
    "p AS (SELECT pr.q_id, v.vec_id AS neighbor_id, "
    + _DOT_SQL.format(a="pr.q_emb", b="v.emb")
    + " / (pr.q_nrm * v.nrm) AS cos FROM b v JOIN pr ON v.bucket = pr.bucket "
    "AND v.vec_id <> pr.q_id), "
    "r AS (SELECT q_id, neighbor_id, cos, row_number() OVER "
    "(PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rank FROM p) "
    "SELECT q_id, neighbor_id, CAST(floor(cos * 1000000) AS BIGINT) AS cos_e6, "
    f"CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= {TOP_K}"
)


IVF_PROBE_LEVELS = (1, 2, 4, 8)


def q_ann_probe_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k as a function of nprobe — the recall/latency knob an IVF
    deployment tunes, measured in one query: for each probe level the
    top-k of the lists ranked <= level is compared against the brute
    baseline.  Candidate work is the union over levels (≈2x the nprobe=8
    query); the level fan-out multiplies only the tiny probe set."""
    eb = _scaled_base(spark, sf_dir)
    ranked_lists = _ivf_ranked_lists(spark, sf_dir)
    levels = spark.createDataFrame(
        [(x,) for x in IVF_PROBE_LEVELS], "nprobe int"
    )
    probes = ranked_lists.join(levels, F.col("r") <= F.col("nprobe")).select(
        "nprobe", "q_id", "q_emb", "q_nrm", "bucket"
    )
    pairs = eb.join(probes, ["bucket"]).filter(F.col("vec_id") != F.col("q_id"))
    cos = _dot(F.col("q_emb"), F.col("emb")) / (F.col("q_nrm") * F.col("nrm"))
    topk = (
        pairs.select("nprobe", "q_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("nprobe", "q_id").orderBy(
                    F.desc("cos"), F.asc("neighbor_id")
                )
            ),
        )
        .filter(F.col("rank") <= TOP_K)
    )
    # lazy checkpoint: the brute baseline is computed once at execution
    # (reused by both the hits join and the count branch) and NOTHING
    # runs at DataFrame-construction time — an eager count here would
    # trigger a full O(N*Q) scan just to build the plan
    brute = (
        q_ann_brute_topk(spark, sf_dir)
        .select("q_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    hits = topk.join(brute, ["q_id", "neighbor_id"]).groupBy("nprobe").agg(
        F.count("*").alias("n_hits")
    )
    n_true = brute.agg(F.count("*").cast("int").alias("n_true"))
    return (
        levels.join(hits, "nprobe", "left")
        .crossJoin(n_true)  # 1-row aggregate, the legitimate tiny BNLJ
        .select(
            "nprobe",
            F.coalesce("n_hits", F.lit(0)).cast("int").alias("n_hits"),
            "n_true",
        )
    )


Q_ANN_PROBE_TRADEOFF_SQL = (
    _SCALED_CTE
    + _IVF_RANKED_CTE
    + ", lv AS (SELECT unnest(["
    + ", ".join(str(x) for x in IVF_PROBE_LEVELS)
    + "]) AS nprobe), "
    "pr AS (SELECT lv.nprobe, rl.q_id, rl.q_emb, rl.q_nrm, rl.bucket FROM rl, lv WHERE rl.r <= lv.nprobe), "
    "p AS (SELECT pr.nprobe, pr.q_id, v.vec_id AS neighbor_id, "
    + _DOT_SQL.format(a="pr.q_emb", b="v.emb")
    + " / (pr.q_nrm * v.nrm) AS cos FROM b v JOIN pr ON v.bucket = pr.bucket "
    "AND v.vec_id <> pr.q_id), "
    "tk AS (SELECT nprobe, q_id, neighbor_id FROM (SELECT *, row_number() OVER "
    "(PARTITION BY nprobe, q_id ORDER BY cos DESC, neighbor_id ASC) AS rank FROM p) "
    f"WHERE rank <= {TOP_K}), "
    "brute AS (SELECT q_id, neighbor_id FROM (" + Q_ANN_BRUTE_SQL + ")), "
    "h AS (SELECT tk.nprobe, count(*) AS n_hits FROM tk JOIN brute "
    "ON brute.q_id = tk.q_id AND brute.neighbor_id = tk.neighbor_id GROUP BY tk.nprobe) "
    "SELECT lv.nprobe, CAST(coalesce(h.n_hits, 0) AS INTEGER) AS n_hits, "
    "CAST((SELECT count(*) FROM brute) AS INTEGER) AS n_true "
    "FROM lv LEFT JOIN h ON h.nprobe = lv.nprobe"
)


QUERIES = {
    "ann_brute_topk": q_ann_brute_topk,
    "ann_scaled_topk": q_ann_scaled_topk,
    "ann_recall_scaled": q_ann_recall_scaled,
    "embedding_neardup_scaled": q_embedding_neardup_scaled,
    "emb_bucket_centroids": q_bucket_centroids,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_probe_tradeoff": q_ann_probe_tradeoff,
}

ORACLES = {
    "emb_bucket_centroids": Q_BUCKET_CENTROIDS_SQL,
    "ann_brute_topk": Q_ANN_BRUTE_SQL,
    "ann_scaled_topk": Q_ANN_SCALED_SQL,
    "ann_recall_scaled": Q_ANN_RECALL_SCALED_SQL,
    "embedding_neardup_scaled": Q_EMB_NEARDUP_SCALED_SQL,
    "ann_ivf_topk": Q_ANN_IVF_SQL,
    "ann_probe_tradeoff": Q_ANN_PROBE_TRADEOFF_SQL,
}
