"""Driver-registry contract: the round driver records AT MOST 50
correctness rows, so the registered queries() set must be exactly 50 —
anything registered past #50 silently drops out of CORRECTNESS_r{N}.json
(this is how the sampling family lost its rows in round 3).  No Spark
session needed; this is a pure registry check."""

import __spark_entry__ as entry

DRIVER_ROW_CAP = 50


def test_registered_query_count_fits_driver_window():
    qs = entry.queries()
    assert len(qs) == DRIVER_ROW_CAP, (
        f"{len(qs)} registered queries: the driver records at most "
        f"{DRIVER_ROW_CAP} rows — delete a superseded query instead of "
        "registering past the cap"
    )


def test_every_oracle_key_has_a_query():
    qs, os_ = set(entry.queries()), set(entry.oracle_sql())
    assert os_ <= qs, f"orphan oracle entries: {os_ - qs}"
    lqs, los = set(entry.local_queries()), set(entry.local_oracle_sql())
    assert los <= lqs, f"orphan local oracle entries: {los - lqs}"
    assert not (lqs & qs), f"queries registered both locally and with the driver: {lqs & qs}"


def test_local_queries_are_only_drop_audits():
    # a superseded query is deleted, not kept beside its replacement: the
    # only queries outside the registry are the censuses that report
    # what a production cap dropped
    assert all("_stats" in n for n in entry.local_queries()), sorted(entry.local_queries())


def test_rows_only_queries_are_the_documented_set():
    # every registered query should be oracle-checked unless it is one of
    # the documented engine-internal / algorithm-specific metrics
    no_oracle = set(entry.queries()) - set(entry.oracle_sql())
    assert no_oracle == {
        "engine_compression_by_source",  # compressed byte counts (engine-internal)
        "engine_codec_histogram",  # codec choice histogram (engine-internal)
        "dedup_cluster_convergence",  # pointer-jumping round count (algorithm-specific)
    }, no_oracle


def test_sampling_family_registered_early():
    # r3 lesson: the last module in _MODULES fell off the driver's window.
    # Keep the once-dropped queries well inside the first 50 positions.
    names = list(entry.queries())
    for q in ("sample_stratified", "sample_token_budget", "corpus_pack_plan"):
        assert names.index(q) < 20, f"{q} registered at position {names.index(q)}"


def test_no_silently_unregistered_query_functions():
    # inverse guard (VERDICT r4 #8): r3 lost the sampling family because a
    # query existed in code but fell out of the registered window.  Every
    # q_* callable a pipeline module defines must be a value of its
    # QUERIES or LOCAL_QUERIES — defining a query and registering it
    # nowhere is the silent-drop failure mode this pins.
    orphans = {}
    for m in entry._MODULES:
        reg = set()
        for d in ("QUERIES", "LOCAL_QUERIES"):
            reg |= set(map(id, getattr(m, d, {}).values()))
        missing = [
            n
            for n, f in vars(m).items()
            if n.startswith("q_") and callable(f) and id(f) not in reg
        ]
        if missing:
            orphans[m.__name__] = missing
    assert not orphans, f"query functions registered nowhere: {orphans}"
