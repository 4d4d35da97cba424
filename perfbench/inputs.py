"""Seeded benchmark inputs, generated once per (seed, size) and cached
under ``perfbench/.work/inputs``.

* Token corpora come from ``crumble_spark.synth.gen_row``: every FIXTURES
  regime plus the long-document skew tail, stratified so that runs with
  different seeds do the same amount of codec work (see token_corpus).
* The pipeline queries read the sf0.01 ``documents``, ``embeddings`` and
  ``lineitem`` tables that ``scripts/gate_sim.py`` checks against, copied into
  ``perfbench/data/sf0.01`` so a run reads only inside its checkout.
  Their DuckDB oracle hashes are computed here, once, with
  ``scripts/gate_sim.py``'s normalisation and value hash.

Generation and oracle times are stored with the cache, so a cached input
reports the same ``setup.inputs_s`` / ``setup.oracle_s`` as a fresh one.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from crumble_spark import synth

from .env import HERE, ROOT, WORK

INPUTS = os.path.join(WORK, "inputs")
N_FILES = 32  # input files per corpus: enough splits for local[nproc]

# the pipeline queries' tables: a copy of the sf0.01 test tables
CURATE_DIR = os.path.join(HERE, "data", "sf0.01")
CURATE_TABLES = ("documents", "embeddings", "lineitem")


def _cached(path: str, build) -> dict:
    """Build into a temp dir and publish by rename; the meta file is the
    completion marker."""
    meta_path = os.path.join(path, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "_meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return meta


GIANT_MIN = 32_768  # gen_row's skew tail multiplies a ~1k-token length by 32..256


def token_corpus(seed: int, regime_tokens: int, giant_window: tuple[int, int],
                 giant_regimes: tuple[str, ...]) -> tuple[str, dict]:
    """A stratified slice of the ``synth.gen_row(seed, i)`` stream, i = 0, 1, ...

    * one skew-tail row with a length inside ``giant_window`` for each
      regime in ``giant_regimes``, the first one the stream offers;
    * ordinary rows (under GIANT_MIN tokens), in stream order, fill every
      regime up to ``regime_tokens``, its giant counting toward it.

    Every seed thus gets the same regime mix, the same number of giant
    rows and (nearly) the same token count, so the work a run does does
    not swing with the seed; rows stay bit-identical to ``gen_row``.
    Written as N_FILES parquet files in the engine's input schema.
    Returns (dir, meta); ``_rows.txt`` lists "row_id doc_id" per row."""
    lo, hi = giant_window
    tag = "all" if set(giant_regimes) == set(synth.REGIMES) else "+".join(giant_regimes)
    path = os.path.join(INPUTS, f"tokens-s{seed}-r{regime_tokens}-g{tag}-{lo}-{hi}")

    def build(tmp: str) -> dict:
        t0 = time.perf_counter()
        giants: dict[str, int] = {}  # regime -> row id
        normal: dict[str, list[int]] = {g: [] for g in synth.REGIMES}
        fill = dict.fromkeys(synth.REGIMES, 0)
        length: dict[int, int] = {}
        i = 0
        while len(giants) < len(giant_regimes) or min(fill.values()) < regime_tokens:
            regime, n = _peek(seed, i)
            if lo <= n <= hi and regime in giant_regimes and regime not in giants:
                giants[regime] = i
            elif n < GIANT_MIN and fill[regime] < regime_tokens:
                normal[regime].append(i)
                fill[regime] += n
            length[i] = n
            i += 1
        keep = set(giants.values())
        for regime, ids in normal.items():
            room = regime_tokens - (length[giants[regime]] if regime in giants else 0)
            for j in ids:
                if room <= 0:
                    break
                keep.add(j)
                room -= length[j]
        rows = []
        for j in sorted(keep):
            r = synth.gen_row(seed, j)
            if r[2] != length[j]:
                raise AssertionError(f"_peek disagrees with synth.gen_row at row {j}")
            rows.append((j, r))
        with open(os.path.join(tmp, "_rows.txt"), "w") as fh:
            fh.write("\n".join(f"{i} {r[0]}" for i, r in rows))
        schema = pa.schema(
            [
                ("doc_id", pa.string()),
                ("tokens", pa.list_(pa.int32())),
                ("n_tok", pa.int32()),
                ("source", pa.string()),
            ]
        )
        bounds = np.linspace(0, len(rows), N_FILES + 1).astype(int)
        for f in range(N_FILES):
            part = [r for _, r in rows[bounds[f] : bounds[f + 1]]]
            cols = list(zip(*part)) if part else [[], [], [], []]
            table = pa.table(
                [
                    pa.array(cols[0], pa.string()),
                    pa.array([np.asarray(t) for t in cols[1]], pa.list_(pa.int32())),
                    pa.array(cols[2], pa.int32()),
                    pa.array(cols[3], pa.string()),
                ],
                schema=schema,
            )
            pq.write_table(table, os.path.join(tmp, f"part-{f:03d}.parquet"))
        return {
            "rows": len(rows),
            "tokens": sum(r[2] for _, r in rows),
            "stream_rows": i,
            "max_row_tokens": max(r[2] for _, r in rows),
            "rows_over_262144": sum(r[2] > 262_144 for _, r in rows),
            "inputs_s": time.perf_counter() - t0,
        }

    return path, _cached(path, build)


def _peek(seed: int, row_id: int) -> tuple[str, int]:
    """(regime, length) of ``synth.gen_row(seed, row_id)`` without making
    its tokens: the generator's first draws, in its order."""
    rng = np.random.default_rng([seed, row_id])
    regime = synth.REGIMES[int(rng.integers(0, len(synth.REGIMES)))]
    source = synth.SOURCES[int(rng.integers(0, len(synth.SOURCES)))]
    n = int(rng.lognormal(np.log(1024), 0.6))
    if source == "web" and rng.random() < 0.02:
        n *= int(rng.integers(32, 257))
    return regime, max(0, min(n, 1_000_000))


def corpus_rows(corpus_dir: str) -> list[tuple[int, str]]:
    """(gen_row row id, doc_id) of every corpus row, in file order."""
    with open(os.path.join(corpus_dir, "_rows.txt")) as fh:
        return [(int(a), b) for a, b in (ln.split() for ln in fh.read().split("\n"))]


def _gate_sim():
    """``scripts/gate_sim.py`` loaded as a module (it is a script, not a
    package member): its ``_norm`` and ``_value_hash`` are the repo's
    oracle comparison."""
    spec = importlib.util.spec_from_file_location(
        "gate_sim", os.path.join(ROOT, "scripts", "gate_sim.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def curate_tables(oracles: dict[str, str]) -> tuple[str, dict]:
    """The sf0.01 ``documents``/``embeddings``/``lineitem`` tables, kept in
    ``perfbench/data/sf0.01``, plus {query: [rows, columns, value
    hash]} from DuckDB for every query named in ``oracles``, computed once
    and cached."""
    path = os.path.join(INPUTS, "curate-sf0.01")

    def build(tmp: str) -> dict:
        import duckdb

        gs = _gate_sim()
        t0 = time.perf_counter()
        con = duckdb.connect()
        for t in CURATE_TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{CURATE_DIR}/{t}.parquet')"
            )
        expect = {}
        for name, sql in oracles.items():
            want = gs._norm(con.sql(sql).df())
            expect[name] = [len(want), list(want.columns), gs._value_hash(want)]
        con.close()
        return {"oracle_s": time.perf_counter() - t0, "expect": expect}

    return CURATE_DIR, _cached(path, build)
