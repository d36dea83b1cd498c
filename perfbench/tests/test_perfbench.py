"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke and trace tests start Spark in a subprocess per run (about
half a minute to a minute and a half each); the oracle tests need no
Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = tuple(w["name"] for w in SPEC["workloads"])
COUNTS = ("app.jobs", "viz.jobs", "streaming.jobs", "similarity.jobs",
          "report.jobs", "spark.jobs_per_op", "spark.codegen_compiles_per_op",
          # read from the status store's stage metrics
          "spark.tasks_per_stage", "spark.input_bytes", "spark.spill_bytes",
          "streaming.shuffle_bytes", "state.bytes_written",
          "exports.bytes_written")


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "5", "--trace",
         str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_has_no_failed_ops(workload):
    res = _run(workload, 3, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    spec = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: m["unit"] for k, m in res["metrics"].items()} == spec
    assert all(m["value"] > 0 for m in res["metrics"].values())


# Jobs, codegen compiles and the stage counts per op must repeat
# exactly at one seed.  On corpus_ingest the compile count does not: a
# round generates more classes than Spark's default 100-entry codegen
# cache holds, so which classes are evicted and compiled again follows
# task interleaving (390 and 427 compiles per round in two smoke runs at
# one seed).  That is the engine's behaviour, recorded here as an
# expected failure rather than hidden.
CASES = [(w, k) for w in WORKLOADS for k in COUNTS]
CASES[CASES.index(("corpus_ingest", "spark.codegen_compiles_per_op"))] = (
    pytest.param("corpus_ingest", "spark.codegen_compiles_per_op",
                 marks=pytest.mark.xfail(reason="codegen cache eviction "
                                         "order follows task interleaving"))
)
_TRACED: dict = {}


def _traced_pair(workload):
    if workload not in _TRACED:
        _TRACED[workload] = (_run(workload, 5, 1), _run(workload, 5, 1))
    return _TRACED[workload]


@pytest.mark.parametrize("workload,key", CASES)
def test_traced_counts_repeat_at_one_seed(workload, key):
    a, b = _traced_pair(workload)
    assert a["failed"] == 0 and b["failed"] == 0
    spec = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: m["unit"] for k, m in a["metrics"].items()} == spec
    assert a["metrics"][key]["value"] == b["metrics"][key]["value"]


def test_review_check_catches_a_planted_wrong_flag(tmp_path):
    events = gen.events(str(tmp_path / "events.parquet"), 7, n_rows=3_000,
                        days=4)
    script, at_win = workloads.review_script(events, 7, 0, 12)
    expected = oracle.review_replay(events, script)
    rows = {p: r.tolist() for p, r in at_win.items()}
    assert oracle.review_failed_ops(script, expected, dict(expected),
                                    rows) == set()
    # the replay really moved flags: brushes, window approvals
    assert {-2, 1} <= set(expected.values())
    planted = dict(expected)
    victim = script[0][1][0]  # a row the first brush flagged
    planted[victim] = 0
    assert 0 in oracle.review_failed_ops(script, expected, planted, rows)


def test_corpus_check_catches_planted_wrong_answers():
    seed_docs, crawls = gen.documents(9, 60, 1, fresh=10, recrawl=5)
    build, appends, queries = gen.embeddings(9, 64, 1, append=16, queries=3)
    orc = oracle.CorpusOracle(seed_docs, crawls, build,
                              **workloads.NEARDUP, **workloads.IVF)
    kept = orc.survivors(crawls[0])
    ids = {d for d, _ in kept}
    recrawls = {d for d in crawls[0]["doc_id"].to_pylist() if d >= 1_000_000}
    # banner-drifted re-crawls of stored docs drop; fresh docs survive
    assert recrawls and not ids & recrawls
    assert len(ids) == 10 - 1  # one planted in-batch exact repeat
    orc.append(appends[0])
    want = orc.knn(queries[0], **workloads.KNN)
    assert len(want) == 3 * workloads.KNN["k"]
    assert not oracle.knn_mismatch(want, list(want))
    swapped = list(want)
    q, n, c, r = swapped[0]
    swapped[0] = (q, n + 1, c, r)
    assert oracle.knn_mismatch(want, swapped)
    off = list(want)
    off[-1] = off[-1][:2] + (off[-1][2] + 1e-6,) + off[-1][3:]
    assert oracle.knn_mismatch(want, off)


def test_batch_check_catches_planted_wrong_answers(tmp_path):
    src = str(tmp_path / "station.parquet")
    gen.station(src, 11, workloads.STATION_ROWS)
    sensor = gen.SENSORS[1]
    rules = workloads.batch_rules(sensor)
    con = oracle.batch_replay(src, sensor, rules)
    flags = con.execute("SELECT * FROM want").arrow()
    # the rules fire, and NULL runs stay missing
    assert {-2, -1, 0} <= set(flags[f"{sensor}_qcflag"].to_pylist())
    out = tmp_path / "out"
    part = out / "st_qc_parquet" / "part-0.parquet"
    part.parent.mkdir(parents=True)

    def export(tbl):  # the Parquet export and its checksum file
        pq.write_table(tbl, part)
        digest = hashlib.md5(part.read_bytes()).hexdigest()
        (out / "st_checksums.md5").write_text(
            f"{digest}  {part.relative_to(out)}\n")

    def ok(prog):
        return oracle.batch_ok(src, sensor, rules, prog, str(out), "st")

    export(flags)
    prog = [{k: round(v, 2) if k.startswith("pct_") else v
             for k, v in row.items()}
            for row in oracle.batch_progress(con).values()]
    assert ok(prog)
    off = [dict(r) for r in prog]
    off[1]["total"] += 1
    assert not ok(off)
    off = [dict(r) for r in prog]
    off[0]["pct_flagged"] += 0.01
    assert not ok(off)
    col = f"{sensor}_qcflag"
    f = flags[col].to_pylist()
    f[f.index(-2)] = 0  # a rule hit left unflagged, checksums resealed
    export(flags.set_column(flags.schema.get_field_index(col), col,
                            pa.array(f, flags[col].type)))
    assert not ok(prog)
    export(flags)
    sums = out / "st_checksums.md5"
    sums.write_text("0" * 32 + sums.read_text()[32:])  # a wrong sum
    assert not ok(prog)
    with open(part, "ab") as fh:  # an export that no longer reads
        fh.write(b"\0")
    assert not ok(prog)


def test_inputs_repeat_per_seed_and_differ_across_seeds():
    a = gen.documents(1, 50, 2, fresh=10, recrawl=3)
    b = gen.documents(1, 50, 2, fresh=10, recrawl=3)
    c = gen.documents(2, 50, 2, fresh=10, recrawl=3)
    assert a[0].equals(b[0]) and a[1][1].equals(b[1][1])
    assert not a[0].equals(c[0])
    assert a[1][1].num_rows == c[1][1].num_rows  # same size, new values
    e1 = gen.embeddings(1, 32, 1, append=4, queries=2)[0]
    assert np.allclose(
        np.linalg.norm(np.array(e1["embedding"].to_pylist()), axis=1), 1.0,
        atol=1e-5)
    assert isinstance(e1, pa.Table)
