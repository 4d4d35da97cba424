"""Physical-plan regression guards: the scale-killing shapes the round-1
verdict flagged must never reappear.  Each assertion pins the *plan*, not
the result — results are covered by the oracle suite; these tests fail if
someone reintroduces a cartesian/nested-loop join or an unbounded window.
"""

import pytest
from conftest import write_docs_fixture as _write_docs_fixture

from crumble_spark.pipeline import dedup, relational, simsearch

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _hinted_subtrees(df) -> list:
    """Subtree strings of every BROADCAST-strategy ResolvedHint node in
    the analyzed plan.

    A broadcast hint forces a driver-side collect of the hinted side
    regardless of its size; only sets that are bounded BY CONSTRUCTION
    (a handful of query vectors, a 25-row dimension) may carry one.
    Corpus-proportional sets (LSH candidate pairs, exact-dup drop lists,
    gram/bucket verdicts) must NOT be broadcast-hinted — AQE may pick
    broadcast only when the runtime size actually fits.  Shuffle-side
    hints (merge/shuffle_hash) point the OTHER way — they forbid a
    broadcast — and are deliberately not flagged (the r5 cap verdicts
    carry merge hints precisely to keep AQE from broadcasting a
    corpus-proportional set at small SF).
    """
    out = []
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if (
            node.getClass().getSimpleName() == "ResolvedHint"
            and "broadcast" in node.toString().splitlines()[0].lower()
        ):
            out.append(node.toString())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return out


def test_lsh_verified_candidate_set_not_broadcast_hinted(spark):
    # the candidate pair set grows O(N) on a near-dup-heavy corpus; a
    # broadcast hint on it is a guaranteed driver OOM at 100x.  The only
    # permissible hints in this query are the hot-gram stop lists (bounded
    # by GRAM_DF_CAP construction).
    hints = _hinted_subtrees(dedup.q_dedup_lsh_verified(spark, SF_DIR))
    for h in hints:
        assert "doc_a" not in h and "doc_b" not in h, h[:500]


def test_clean_manifest_drop_list_not_broadcast_hinted(spark):
    # the exact-dup drop list is 20-50% of a web corpus — never hint it.
    # quality/langid are projections and dedup_exact is a window filter, so
    # the whole manifest plan must carry zero strategy hints.
    from crumble_spark.pipeline import curate

    assert _hinted_subtrees(curate.q_clean_manifest(spark, SF_DIR)) == []


def test_simhash_pairs_is_banded_equi_join_not_cartesian(spark):
    # The clustering edge feed bands exact-dup representatives and pairs
    # them through the same banded hamming join as q_simhash48_pairs; its
    # rep selection and star re-attachment must not bring back a
    # nested-loop or Cartesian join either.
    from crumble_spark.pipeline.dedup import _simhash48_edges

    plan = _plan(_simhash48_edges(spark, SF_DIR, collapse_exact=True))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lsh_verified_has_no_nested_loop_join(spark):
    plan = _plan(dedup.q_dedup_lsh_verified(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_jaccard_has_no_nested_loop_join(spark):
    plan = _plan(dedup.q_dedup_jaccard(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_top_users_uses_take_ordered_not_global_window(spark):
    plan = _plan(relational.q_events_top_users(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_ann_scaled_is_equi_join(spark):
    # the 1-row nb scalar broadcast legitimately compiles to a nested-loop
    # join (it has no key); the *candidate* join must be a hash equi-join
    # on the bucket value — that's the part that touches the corpus
    plan = _plan(simsearch.q_ann_scaled_topk(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    hash_join_lines = [
        ln for ln in plan.splitlines()
        if ("BroadcastHashJoin" in ln or "SortMergeJoin" in ln or "ShuffledHashJoin" in ln)
    ]
    assert any("bucket" in ln for ln in hash_join_lines), plan[:2000]


def test_late_orders_is_left_semi(spark):
    plan = _plan(relational.q_late_orders(spark, SF_DIR))
    assert "LeftSemi" in plan and "CartesianProduct" not in plan


def test_vocab_topk_uses_take_ordered(spark):
    from crumble_spark.pipeline import textqc

    assert "TakeOrderedAndProject" in _plan(textqc.q_vocab_topk(spark, SF_DIR))


def test_sessions_single_user_shuffle(spark):
    import re

    plan = _plan(relational.q_event_sessions(spark, SF_DIR))
    # lag window + per-session groupBy + per-user groupBy must all reuse
    # ONE hashpartitioning(user_id) exchange for the event rows; the r5
    # hot-user cap adds exactly one more (the map-side-combined count
    # verdict) and nothing else
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    assert "LeftSemi" in plan


def test_sessions_hot_user_dropped_and_bounded(spark, tmp_path, monkeypatch):
    # VERDICT r4 #6: one pathological user (bot traffic) must not pin a
    # sessionization task — above-cap users are dropped via a two-level
    # count + semi-join (visible drop: absent from the output), never
    # buffered through the per-user window
    import datetime

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setattr(relational, "SESSION_MAX_EVENTS_PER_USER", 100)
    t0 = datetime.datetime(2024, 1, 1)
    rows = [("bot", t0 + datetime.timedelta(seconds=i)) for i in range(300)]
    rows += [("human", t0 + datetime.timedelta(hours=i)) for i in range(5)]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
    pdf["event_type"] = "click"
    pdf["value"] = 1.0
    t = pa.Table.from_pandas(pdf).set_column(
        1, "ts", pa.Table.from_pandas(pdf)["ts"].cast(pa.timestamp("us"))
    )
    pq.write_table(t, str(tmp_path / "events.parquet"))

    out = {r["user_id"]: r for r in relational.q_event_sessions(spark, str(tmp_path)).collect()}
    assert "bot" not in out, "above-cap user must be dropped (observable)"
    # gaps are 1 h > 30 min: every human event is its own session
    assert out["human"]["n_sessions"] == 5 and out["human"]["max_session_events"] == 1
    # the drop audit reports the capped user + its events (VERDICT r5 #3)
    audit = relational.q_session_cap_stats(spark, str(tmp_path)).collect()[0]
    assert audit["n_users"] == 2 and audit["n_users_capped"] == 1
    assert audit["n_events"] == 305 and audit["n_events_dropped"] == 300
    assert audit["max_events_per_user"] == 300
    # the cap must come from an aggregate verdict, not a per-user count window
    plan = _plan(relational.q_event_sessions(spark, str(tmp_path)))
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "count(1)" not in ln, ln


def test_simhash48_is_banded_equi_join(spark):
    plan = _plan(dedup.q_simhash48_pairs(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash48_banding_is_complete_vs_brute_force(spark):
    # the 48-bit oracle SQL uses the SAME banding, so completeness isn't
    # independently checked there; compare against an explicit brute-force
    # hamming filter over all signature pairs at small scale
    from itertools import combinations

    from crumble_spark.pipeline.dedup import (
        SIMHASH64_HAM_MAX,
        q_simhash48_pairs,
    )

    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.q_simhash48_pairs(spark, SF_DIR).collect()
    }
    # recompute signatures exactly as the query does, then brute-force
    import pyspark.sql.functions as F

    from crumble_spark.pipeline import shared

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    w = d.select("doc_id", F.explode(shared.words(F.col("text"))).alias("w"))
    h48 = (F.conv(F.substring(F.md5("w"), 1, 12), 16, 10).cast("long")).alias("h")
    from crumble_spark.pipeline.dedup import _simhash48_cols

    sums, val = _simhash48_cols()
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in w.select("doc_id", h48)
        .groupBy("doc_id")
        .agg(*sums)
        .select("doc_id", val.alias("simhash"))
        .collect()
    }
    brute = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= SIMHASH64_HAM_MAX
    }
    assert banded == brute


def test_encode_scan_prunes_and_pushes(spark):
    # the flagship encode path must push the column prune to parquet:
    # reading documents for tokenization needs only doc_id/text/source
    from crumble_spark.pipeline import tokenize

    plan = _plan(tokenize.tokens_table(spark, SF_DIR))
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read_schema and "ts" not in read_schema


def _encode_sink_plan(spark, tmp_path, monkeypatch, store):
    """(executed plan, stage count) of the one job the DataFrame encode
    job's sink call runs, on a `store` of "local" or "viewfs" (a
    viewfs:// mount of a local directory, written by Spark's writer)."""
    from conftest import viewfs_store
    from pyspark.sql import DataFrameWriter

    from crumble_spark import job, sinks, synth

    sc = spark.sparkContext
    group = f"encode-sink-{store}"
    DataFrame = type(spark.range(1))
    real, real_to_arrow, real_write = (
        sinks.write_encoded_parquet, DataFrame.toArrow, DataFrameWriter.parquet
    )
    plans = []

    def to_arrow(self):
        plans.append(_plan(self))
        return real_to_arrow(self)

    def write(self, path, *a, **kw):
        plans.append(_plan(self._df))
        return real_write(self, path, *a, **kw)

    def spy(*a, **kw):
        sc.setJobGroup(group, "encoded data to the sink")
        monkeypatch.setattr(DataFrame, "toArrow", to_arrow)
        monkeypatch.setattr(DataFrameWriter, "parquet", write)
        try:
            return real(*a, **kw)
        finally:
            monkeypatch.setattr(DataFrame, "toArrow", real_to_arrow)
            monkeypatch.setattr(DataFrameWriter, "parquet", real_write)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)

    monkeypatch.setattr(sinks, "write_encoded_parquet", spy)
    inp = str(tmp_path / "tokens")
    synth.synth_table(spark, 64, seed=3, mean_len=300, parts=2).write.parquet(inp)
    out = str(tmp_path / "out")
    if store == "viewfs":
        out = f"{viewfs_store(spark, 'crumbleplan', str(tmp_path))}/out"
    cfg = job.EncodeConfig(block_size=256, n_splits=16)
    job.run_encode_job(spark, spark.read.parquet(inp), out, cfg=cfg, resume=False)

    (plan,) = plans
    tracker = sc.statusTracker()
    (job_id,) = tracker.getJobIdsForGroup(group)
    return plan, len(tracker.getJobInfo(job_id).stageIds)


def test_encode_job_is_one_scan_and_no_shuffle(spark, tmp_path, monkeypatch):
    # the DataFrame encode job on a local store: its tasks read the
    # input's row groups themselves, encode and write, so the job is one
    # single-stage job over a local relation of input slices: no
    # Exchange moves raw tokens or encoded blocks, and Spark scans no
    # tokens (giant rows stay single rows)
    plan, stages = _encode_sink_plan(spark, tmp_path, monkeypatch, "local")
    assert "Exchange" not in plan, plan[:2000]
    assert "Scan parquet" not in plan and "LocalTableScan" in plan, plan[:2000]
    assert stages == 1


def test_encode_job_on_a_spark_store_is_one_scan_and_no_shuffle(spark, tmp_path, monkeypatch):
    # on any other store the job is scan → mapInArrow → Spark's writer:
    # the input is scanned once, no Exchange, one single-stage job
    plan, stages = _encode_sink_plan(spark, tmp_path, monkeypatch, "viewfs")
    assert "Exchange" not in plan, plan[:2000]
    assert plan.count("Scan parquet") == 1, plan[:2000]
    assert stages == 1


def test_ann_scaled_recall_floor(spark):
    # both engines compute the SAME multi-probe algorithm, so the oracle
    # match alone can't catch a recall regression (a bug that tanks recall
    # identically in Spark and DuckDB stays oracle-green).  Assert the
    # semantic property itself: aggregate recall@k vs the brute baseline.
    # Measured at sf0.001: 0.82 with hamming-2 multi-probe (r3; was 0.54
    # with hamming-1); floor set with slack below the measured value.
    rows = simsearch.q_ann_recall_scaled(spark, SF_DIR).collect()
    hits = sum(r["n_hits"] for r in rows)
    true = sum(r["n_true"] for r in rows)
    assert true > 0
    recall = hits / true
    assert recall >= 0.6, f"scaled-ANN recall collapsed: {recall:.3f}"


def test_contamination_no_gram_window_no_nested_loop(spark):
    # r5: the contaminated-gram flag is a distinct eval-gram set
    # semi-joined onto the training grams — each branch gram-constructs
    # only its own doc subset (total gram work unchanged vs the old
    # single scan), and no WindowExec buffers a hot gram's occurrence
    # stream (the r2-r4 max(is_eval) window did)
    from crumble_spark.pipeline import curate

    plan = _plan(curate.q_contamination(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 2, plan[:1500]
    assert "windowspecdefinition" not in plan
    assert "LeftSemi" in plan


def test_jaccard_gram_stats_single_scan(spark):
    plan = _plan(dedup.q_jaccard_gram_stats(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan


def test_connected_components_chain_converges_fast(spark):
    # adversarial worst case for plain propagation: a 64-node path graph
    # (diameter 63).  Pointer jumping must find the single component and
    # its min label well inside the iteration cap (O(log diameter)).
    from crumble_spark.pipeline.dedup import _connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "doc_a long, doc_b long"
    )
    labels = {r["doc_id"]: r["lab"] for r in _connected_components(pairs).collect()}
    assert set(labels) == set(range(1, 65))
    assert set(labels.values()) == {1}


def test_connected_components_reports_convergence_stats(spark):
    # the convergence audit (VERDICT r3 #8): a 64-node path graph must
    # converge in O(log diameter) rounds with the round count and total
    # label changes surfaced, and the audit query emits one well-formed row
    from crumble_spark.pipeline.dedup import _connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "doc_a long, doc_b long"
    )
    stats = {}
    _connected_components(pairs, stats=stats).collect()
    assert 1 <= stats["n_rounds"] <= 10  # log2(63) ≈ 6 + slack
    assert stats["n_label_changes"] > 0

    row = dedup.q_cluster_convergence(spark, SF_DIR).collect()[0]
    assert row["n_rounds"] >= 1 and row["n_nodes"] >= row["n_components"] > 0


def test_connected_components_multiple_components(spark):
    from crumble_spark.pipeline.dedup import _connected_components

    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (30, 31), (50, 51), (51, 30)],
        "doc_a long, doc_b long",
    )
    labels = {r["doc_id"]: r["lab"] for r in _connected_components(pairs).collect()}
    assert labels == {10: 10, 11: 10, 12: 10, 30: 30, 31: 30, 50: 30, 51: 30}




def test_clusters_collapse_exact_prefilter(spark, tmp_path):
    # VERDICT r6 #5: the clustering pair feed collapses exact-dup families
    # to one representative before banding (clique → star), deleting the
    # per-family quadratic while preserving connected components exactly.
    # Fixture: a 4-copy family (6 clique pairs → 3 star edges), a 2-copy
    # family, a 3-copy NULL-text family (no signature — must emit NO
    # edges on either feed), and unique docs.
    fam_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fam_b = "one two three four five six seven eight nine ten eleven"
    rows = [(i, fam_a, "s0") for i in (1, 2, 3, 4)]
    rows += [(10, fam_b, "s1"), (11, fam_b, "s1")]
    rows += [(20, None, "s2"), (21, None, "s2"), (22, None, None)]
    rows += [(30, "a wholly unrelated document about completely different topics", "s3")]
    sf = _write_docs_fixture(tmp_path, rows)

    from crumble_spark.pipeline.dedup import _connected_components, _simhash48_edges

    plain = _simhash48_edges(spark, sf, collapse_exact=False)
    coll = _simhash48_edges(spark, sf, collapse_exact=True)
    plain_edges = {(r["doc_a"], r["doc_b"]) for r in plain.collect()}
    coll_edges = {(r["doc_a"], r["doc_b"]) for r in coll.collect()}
    # the quadratic mass drops: 6 clique pairs in family A become 3 star
    # edges; family B's single pair stays one edge either way
    assert {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)} <= plain_edges
    assert {(1, 2), (1, 3), (1, 4)} <= coll_edges
    assert not {(2, 3), (2, 4), (3, 4)} & coll_edges
    assert len(coll_edges) < len(plain_edges)
    # zero-word (NULL-text) dups never enter either graph
    assert all(a not in (20, 21, 22) and b not in (20, 21, 22)
               for a, b in plain_edges | coll_edges)
    # connected components are IDENTICAL on both feeds
    comp = lambda df: {
        (r["doc_id"], r["lab"]) for r in _connected_components(df).collect()
    }
    assert comp(plain) == comp(coll)


def test_collapse_exact_survives_cap_pressure(spark, tmp_path):
    # Pins the docstring claim that the collapsed feed is strictly MORE
    # complete under cap pressure: a dup family larger than
    # SIMHASH_MAX_BUCKET overflows every band bucket on the plain feed
    # (all its pairs AND its near-dup links drop-and-report), while the
    # collapsed feed bands one representative — buckets shrink to 2, the
    # near-dup link survives, and the family re-attaches as star edges.
    from crumble_spark.pipeline.dedup import (
        SIMHASH_MAX_BUCKET,
        _connected_components,
        _simhash48_edges,
    )

    fam = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    k = SIMHASH_MAX_BUCKET + 22  # family alone overflows every bucket
    rows = [(i, fam, "s0") for i in range(k)]
    # same word sequence via a doubled space: identical 48-bit signature
    # (hamming 0) but a different raw text, so a different exact family —
    # the near-dup neighbor the cap would lose on the plain feed
    rows += [(9000, fam.replace("dolor sit", "dolor  sit"), "s1")]
    sf = _write_docs_fixture(tmp_path, rows)

    plain = _simhash48_edges(spark, sf, collapse_exact=False)
    coll = _simhash48_edges(spark, sf, collapse_exact=True)
    assert plain.count() == 0  # every bucket holds k+1 > cap: all dropped
    coll_edges = {(r["doc_a"], r["doc_b"]) for r in coll.collect()}
    # k-1 star edges re-attach the family; the rep–neighbor pair survives
    assert (0, 9000) in coll_edges
    assert {(0, i) for i in range(1, k)} <= coll_edges
    assert len(coll_edges) == k
    labs = {r["lab"] for r in _connected_components(coll).collect()}
    assert labs == {0}  # one complete component, cap notwithstanding


def test_clusters_oracle_parity_under_binding_cap(spark, tmp_path):
    # The registered dedup_clusters oracle used to cluster the PLAIN
    # capped pairs, so Spark/DuckDB agreed only while SIMHASH_MAX_BUCKET
    # bound on NEITHER feed — an unpinned precondition (r7 review).  The
    # oracle now mirrors the collapsed feed; this test pins full-result
    # parity in the exact regime where the two feeds diverge: a dup
    # family larger than the cap (plain feed drops it whole, collapsed
    # feed keeps it via rep + star edges).
    import duckdb
    import pandas as pd

    from crumble_spark.pipeline.dedup import (
        SIMHASH_MAX_BUCKET,
        _q_dedup_clusters_sql,
        q_dedup_clusters,
    )

    fam = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    k = SIMHASH_MAX_BUCKET + 22  # family alone overflows every band bucket
    rows = [(i, fam, "s0") for i in range(k)]
    # same word sequence (doubled space): near-dup neighbor at hamming 0
    rows += [(9000, fam.replace("dolor sit", "dolor  sit"), "s1")]
    # unique-text docs that pair with nothing, plus a NULL-text pair
    rows += [
        (2000 + i, f"wholly unrelated filler number {i} " + f"tail{i} " * (i + 3), "s2")
        for i in range(4)
    ]
    rows += [(3000, None, "s3"), (3001, None, "s3")]
    sf = _write_docs_fixture(tmp_path, rows)

    got = q_dedup_clusters(spark, sf).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    want = con.sql(_q_dedup_clusters_sql()).df()

    def norm(df):
        df = df[sorted(df.columns)].astype("int64")
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    got, want = norm(got), norm(want)
    assert len(got) == len(want) and len(got) == k + 1  # family + neighbor
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_prefix_degenerate_group_completes(spark, tmp_path):
    # VERDICT r6 minor (a): one prefix group containing ~all rows.  The
    # two-level count prevents the singleton majority from entering the
    # rank window; the giant SURVIVING group still colocates in one task
    # (per-group ordering is the query's semantics — row_number streams
    # its running frame, and the task spills rather than buffers).  This
    # pins the behavior: the query completes and ranks exactly the giant
    # group, mirroring the cluster/LSH degenerate tests.
    shared_prefix = "the same ten word boilerplate header appears on every page"
    rows = [(i, f"{shared_prefix} unique tail {i}", f"s{i % 3}") for i in range(200)]
    rows += [(1000 + i, f"singleton document number {i} with its very own distinct words "
              + "x " * i, "s9") for i in range(5)]
    sf = _write_docs_fixture(tmp_path, rows)
    out = dedup.q_dedup_prefix(spark, sf).collect()
    assert len(out) == 200  # singleton groups never reach the window
    assert sorted(r["rn"] for r in out) == list(range(1, 201))
    assert {r["doc_id"] for r in out} == set(range(200))


def test_jaccard_gram_side_not_broadcast_hinted(spark):
    # the gram-cap verdict sets are corpus-proportional on a boilerplate-
    # heavy web corpus (10^8-10^10 grams) — never broadcast-hint them
    # (VERDICT r3 #3); r5 uses a count + semi-join with a merge hint,
    # which _hinted_subtrees deliberately ignores (it forbids broadcast).
    assert _hinted_subtrees(dedup.q_dedup_jaccard(spark, SF_DIR)) == []
    for h in _hinted_subtrees(dedup.q_dedup_lsh_verified(spark, SF_DIR)):
        assert "gram" not in h, h[:500]


def test_lsh_degenerate_band_key_bounded(spark):
    # VERDICT r4 #1: one band key shared by ALL docs must be dropped at
    # count time (map-side-combinable partials + streaming semi-join
    # probe), never materialized as one giant collect_set array.  Shape:
    # the plan must cap via a LeftSemi join BEFORE the collect_set
    # aggregate; behavior: only the small buckets' pairs survive.
    from crumble_spark.pipeline.dedup import LSH_MAX_BUCKET, _bucket_pairs

    n_hot = 5 * LSH_MAX_BUCKET
    rows = [(i, 0, "hot") for i in range(n_hot)]
    rows += [(1000, 1, "a"), (1001, 1, "a"), (2000, 2, "b"), (2001, 2, "b"), (2002, 2, "b")]
    banded = spark.createDataFrame(rows, "doc_id long, band int, key string")
    out = _bucket_pairs(banded)
    plan = _plan(out)
    assert "LeftSemi" in plan, plan[:2000]
    # the size pre-pass is a plain count aggregate, so no collect_set may
    # appear below the semi-join: every collect_set in the plan sits above it
    first_semi = plan.index("LeftSemi")
    assert "collect_set" not in plan[first_semi:], plan[first_semi:][:2000]
    got = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert got == {(1000, 1001), (2000, 2001), (2000, 2002), (2001, 2002)}


def test_simhash48_degenerate_band_key_bounded(spark):
    # VERDICT r6 #1: a mass-duplicated family shares one 48-bit signature,
    # lands whole in all four 12-bit bands, and xor = 0 defeats the
    # hamming filter — without the cap the band self-join is O(k^2).
    # Shape: the under-cap verdict must semi-join the banded rows BEFORE
    # the self-join (two-level count, merge-hinted); behavior: only the
    # small buckets' pairs survive, the hot family produces none.
    from crumble_spark.pipeline.dedup import (
        SIMHASH64_BANDS,
        SIMHASH64_BITS,
        SIMHASH64_HAM_MAX,
        SIMHASH_MAX_BUCKET,
        _banded_hamming_pairs,
    )

    hot = 0x111111111111  # every 12-bit band key = 0x111
    rows = [(i, hot) for i in range(5 * SIMHASH_MAX_BUCKET)]
    rows += [(1000, 0x222222222222), (1001, 0x222222222222)]  # exact pair
    rows += [(2000, 0x333333333333), (2001, 0x333333333333 ^ 1)]  # hamming 1
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    out = _banded_hamming_pairs(
        sig, SIMHASH64_BITS, SIMHASH64_BANDS, SIMHASH64_HAM_MAX,
        max_bucket=SIMHASH_MAX_BUCKET,
    )
    plan = _plan(out)
    assert "LeftSemi" in plan, plan[:2000]
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    got = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in out.collect()}
    assert got == {(1000, 1001, 0), (2000, 2001, 1)}


def test_hot_key_caps_use_two_level_counts_not_key_windows(spark):
    # VERDICT r4 #2: the gram-df cap and the prefix group size must come
    # from map-side-combinable groupBy counts, NOT from count windows
    # partitioned on the hot key (a window colocates and buffers every
    # occurrence of a degenerate key in one task before the filter).
    # Remaining windows are per-doc (bounded by doc length) or the rank
    # window over already-filtered duplicate groups.
    for df in (dedup.q_dedup_jaccard(spark, SF_DIR), dedup._capped_grams(spark, SF_DIR)):
        plan = _plan(df)
        for ln in plan.splitlines():
            if "windowspecdefinition" in ln:
                assert "gram" not in ln, ln
    plan = _plan(dedup.q_dedup_prefix(spark, SF_DIR))
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "count(1)" not in ln, ln  # only the rank window remains
    assert "LeftSemi" in plan
    # exact dedup needs no window at all: drop set = rows whose doc_id is
    # not the group min, min computed map-side-combinably (r5)
    plan = _plan(dedup.q_dedup_exact(spark, SF_DIR))
    assert "windowspecdefinition" not in plan
    # the curation manifest reuses the same min-join survivor flag
    from crumble_spark.pipeline import curate

    plan = _plan(curate.q_clean_manifest(spark, SF_DIR))
    assert "windowspecdefinition" not in plan
    # r6 (VERDICT r5 #1): cluster_size is a two-level groupBy(lab).count()
    # + merge join — a count window over the component label would buffer
    # a giant boilerplate component (the pipeline's most likely degenerate
    # key) in one WindowExec task.  Upstream is checkpointed label rows +
    # the simhash pair join, so the whole plan must be window-free.
    plan = _plan(dedup.q_dedup_clusters(spark, SF_DIR))
    assert "windowspecdefinition" not in plan
    # r7 (VERDICT r6 #1): the production simhash band cap is itself a
    # two-level count + semi-join — the pairs plan must be window-free
    # (no count window over (band, key)) and carry the LeftSemi probe.
    plan = _plan(dedup.q_simhash48_pairs(spark, SF_DIR))
    assert "windowspecdefinition" not in plan
    assert "LeftSemi" in plan


def test_clusters_degenerate_component_converges(spark):
    # VERDICT r5 #2: one component containing ~all nodes — an
    # adversarially chained graph (path of n nodes) plus a star — must
    # converge in O(log n) pointer-jump rounds, and the per-round label
    # join must stream (1 build row per key; AQE skew-split handles the
    # giant component's probe side — the join key `lab` funnels every
    # member of the component to one key, but the build side is a single
    # (lab, lab2) row so the join state is O(1) per key, never a buffer).
    from crumble_spark.pipeline.dedup import _connected_components

    n = 256  # path 0-1-2-...-255: diameter 255, worst case for propagation
    path = [(i, i + 1) for i in range(n - 1)]
    star = [(500, 500 + i) for i in range(1, 64)]  # giant star, same graph
    pairs = spark.createDataFrame(path + star, "doc_a long, doc_b long")
    stats: dict = {}
    labels = {r["doc_id"]: r["lab"] for r in _connected_components(pairs, stats=stats).collect()}
    assert all(labels[i] == 0 for i in range(n))
    assert all(labels[500 + i] == 500 for i in range(64))
    # pointer jumping halves remaining distance per round: log2(255) ≈ 8
    assert stats["n_rounds"] <= 12, stats


def test_token_budget_window_input_is_prefiltered(spark):
    # r5: the exact per-source cumsum window must consume only the
    # bucket-prefix survivors (semi-join below it), never the whole
    # source — a 10^10-doc source would otherwise stream through one
    # task although only a budget-sized prefix can survive
    from crumble_spark.pipeline import sampling

    plan = _plan(sampling.q_sample_token_budget(spark, SF_DIR))
    assert "LeftSemi" in plan
    # both windows remain, but the doc-level one sits ABOVE the semi-join
    # (plan prints root-first: doc window ... LeftSemi ... bucket window)
    doc_win = plan.index("windowspecdefinition(source")
    assert plan.index("LeftSemi") > doc_win


def test_revenue_by_nation_orders_not_broadcast_hinted(spark):
    # orders is FACT-scale (~1/4 of lineitem, ~10^10 rows at 100x) — a
    # broadcast hint on it forces a driver collect → OOM (VERDICT r3 #2).
    # customer is also unhinted (AQE decides); only nation (25 rows) may
    # carry an explicit hint.
    hints = _hinted_subtrees(relational.q_revenue_by_nation(spark, SF_DIR))
    for h in hints:
        assert "o_orderkey" not in h and "c_custkey" not in h, h[:500]


def test_ann_ivf_recall_floor(spark):
    # same discipline as the scaled-ANN floor: the oracle runs the same
    # algorithm, so recall regressions need a semantic assertion.
    # Measured 0.84 at sf0.001 with IVF_NPROBE=8; floor with slack.
    brute = {
        (r["q_id"], r["neighbor_id"])
        for r in simsearch.q_ann_brute_topk(spark, SF_DIR).collect()
    }
    ivf = {
        (r["q_id"], r["neighbor_id"])
        for r in simsearch.q_ann_ivf_topk(spark, SF_DIR).collect()
    }
    assert brute
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.6, f"IVF recall collapsed: {recall:.3f}"


# --- r8 optimization-shape pins ---------------------------------------------


def test_minhash_signature_pipeline_computed_once(spark):
    # r8: the cap's count branch and probe branch cannot share an
    # exchange (differing projections — the r5 finding), so the banded
    # rows are localCheckpointed and BOTH branches must read the
    # materialized feed: no parquet scan (i.e. no second signature
    # pipeline) may appear in the executed plan.
    plan = _plan(dedup.q_dedup_minhash(spark, SF_DIR))
    assert "Scan parquet" not in plan, plan[:2000]
    assert "ExistingRDD" in plan
    plan48 = _plan(dedup.q_simhash48_pairs(spark, SF_DIR))
    assert "Scan parquet" not in plan48, plan48[:2000]
    assert "ExistingRDD" in plan48


def test_clean_manifest_and_funnel_are_join_free(spark):
    # r8: the exact-dedup survivor is folded into the text_hash group
    # rollup as min(struct(doc_id, ...)) — the old two-scan + sort-merge
    # join shape must not come back (one scan, zero joins).
    from crumble_spark.pipeline import curate

    for q in (curate.q_clean_manifest, curate.q_clean_funnel):
        plan = _plan(q(spark, SF_DIR))
        assert "Join" not in plan, plan[:2000]
        assert plan.count("Scan parquet") == 1, plan[:2000]


def test_samplers_do_not_build_token_arrays(spark):
    # r8: n_tok == size(words) by construction — the md5-per-word token
    # transform must not appear in the sampler scans (the only md5s left
    # belong to the doc_id bucket hash).
    from crumble_spark.pipeline import sampling

    for q in (sampling.q_sample_token_budget, sampling.q_pack_plan):
        plan = _plan(q(spark, SF_DIR))
        assert "size(transform(" not in plan, plan[:2000]
