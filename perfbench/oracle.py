"""Independent answers for the output checks, computed in DuckDB.

The review oracle replays the seeded script as plain SQL UPDATEs over
the generated table.  The corpus oracle repeats the near-dup set
algebra of the d7 registry query round by round (same MinHash family,
banding and shingle-Jaccard verification, built from the repo's DuckDB
oracle fragments) and the IVF probe-and-rank of the x2/x3 queries.
The batch oracle replays the QC rules of the station job that runs in
every corpus round with window functions.
"""

from __future__ import annotations

import glob
import hashlib
import os

import duckdb
import numpy as np
import pyarrow as pa

import gen
from qctimeseries_spark.datapipe.hashing import hash60_sql
from qctimeseries_spark.datapipe.queries import (
    _NORM_TEXT,
    _band_eb_sql,
    _cos_fold_sql,
    _minhash_sql,
    _shingle_sql,
)

# -- review_session ----------------------------------------------------------


def review_replay(events: pa.Table, script: list[tuple]) -> dict[int, int]:
    """Final ``event_id -> flag`` after ``script`` on a fresh session:
    flags start at -1 for NULL values and 0 otherwise, updates never
    touch -1 rows, windows are 24 h buckets from ``min(ts)``."""
    con = duckdb.connect()
    con.register("ev", events)
    con.execute(
        """
        CREATE TABLE t AS
        SELECT event_id, value,
               CASE WHEN value IS NULL THEN -1 ELSE 0 END AS flag,
               (epoch_us(ts) - min(epoch_us(ts)) OVER ()) // ? AS win
        FROM ev""",
        [gen.DAY_US],
    )
    wins = [r[0] for r in con.execute(
        "SELECT DISTINCT win FROM t WHERE value IS NOT NULL ORDER BY win"
    ).fetchall()]
    cur = 0
    for op in script:
        kind = op[0]
        if kind in ("flag_sel", "approve_sel"):
            con.register("sel", pa.table({"id": pa.array(op[1], pa.int64())}))
            con.execute(
                "UPDATE t SET flag = ? WHERE flag != -1"
                " AND event_id IN (SELECT id FROM sel)",
                [-2 if kind == "flag_sel" else 1],
            )
        elif kind == "flag_window":
            con.execute("UPDATE t SET flag = -2 WHERE win = ? AND flag != -1",
                        [wins[cur]])
        elif kind == "approve_unflagged":
            con.execute(
                "UPDATE t SET flag = 1 WHERE win = ? AND flag = 0"
                " AND value IS NOT NULL",
                [wins[cur]],
            )
        elif kind == "next":
            cur = min(cur + 1, len(wins) - 1)
    ids, flags = con.execute(
        "SELECT event_id, flag FROM t ORDER BY event_id"
    ).fetchnumpy().values()
    return dict(zip(ids.tolist(), flags.tolist()))


def review_failed_ops(script, expected: dict, actual: dict,
                      window_ids: dict[int, list]) -> set[int]:
    """Positions of the ops whose rows disagree with the replay (the
    last op when a disagreeing row was touched by none).
    ``window_ids`` maps an op's position to the event ids of the window
    it acted on."""
    bad = {i for i, f in expected.items() if actual.get(i) != f}
    bad |= set(actual) - set(expected)
    if not bad:
        return set()
    hit = {
        pos for pos, op in enumerate(script)
        if any(r in bad for r in (
            op[1] if op[0] in ("flag_sel", "approve_sel")
            else window_ids.get(pos, ())
        ))
    }
    return hit or {len(script) - 1}


# -- corpus_ingest -----------------------------------------------------------


class CorpusOracle:
    """Round-by-round survivors of the near-dup store and the served
    neighbours of the IVF index."""

    def __init__(self, seed_docs: pa.Table, batches: list[pa.Table],
                 build: pa.Table, *, k: int, bands: int, ngram: int,
                 threshold: float, nlist: int):
        self.con = con = duckdb.connect()
        self.threshold = threshold
        docs = [seed_docs.select(["doc_id", "text"])]
        docs += [b.select(["doc_id", "text"]) for b in batches]
        con.register("docs_in", pa.concat_tables(docs))
        con.execute("CREATE TABLE corpus AS SELECT * FROM docs_in")
        con.execute(
            f"CREATE TABLE fp AS SELECT doc_id, {hash60_sql(_NORM_TEXT)}"
            " AS fingerprint FROM corpus"
        )
        con.execute(
            f"CREATE TABLE eb AS WITH {_shingle_sql('corpus', ngram)},"
            f" {_minhash_sql(k)}, {_band_eb_sql(bands, k // bands)}"
            " SELECT * FROM eb"
        )
        con.execute(
            f"CREATE TABLE jh AS WITH {_shingle_sql('corpus', ngram)}"
            " SELECT doc_id, list_distinct(list_transform(s, x -> "
            f"{hash60_sql('x')})) AS hs FROM sh"
        )
        con.register("seed_in", seed_docs.select(["doc_id"]))
        con.execute(
            "CREATE TABLE store AS SELECT MIN(fp.doc_id) AS doc_id,"
            " fingerprint FROM fp JOIN seed_in USING (doc_id)"
            " GROUP BY fingerprint"
        )
        # the index: nlist lowest-id build vectors are the centroids
        con.register("build_in", build)
        con.execute(
            "CREATE TABLE vecs AS SELECT vec_id, list_transform(embedding,"
            " x -> CAST(x AS DOUBLE)) AS v FROM build_in"
        )
        con.execute(
            "CREATE TABLE cents AS SELECT CAST(ROW_NUMBER() OVER"
            " (ORDER BY vec_id) AS INT) AS cid, v AS cv FROM"
            f" (SELECT * FROM vecs ORDER BY vec_id LIMIT {int(nlist)})"
        )
        con.execute("CREATE TABLE cells (vec_id BIGINT, v DOUBLE[], cid INT)")
        self._assign("vecs")

    def _assign(self, src: str) -> None:
        self.con.execute(
            f"""
            INSERT INTO cells
            SELECT vec_id, v, cid FROM (
              SELECT s.vec_id, s.v, c.cid, ROW_NUMBER() OVER (
                PARTITION BY s.vec_id
                ORDER BY ROUND({_cos_fold_sql('s.v', 'c.cv')}, 9) DESC, c.cid
              ) AS rk
              FROM {src} s, cents c) WHERE rk = 1"""
        )

    def survivors(self, batch: pa.Table) -> set[tuple[int, int]]:
        """Survivors ``(doc_id, fingerprint)`` of one crawl batch; they
        join the store for the next round."""
        con = self.con
        con.register("batch_in", batch.select(["doc_id"]))
        rows = con.execute(
            """
            WITH x1 AS (
              SELECT fp.doc_id, fp.fingerprint FROM fp JOIN batch_in USING (doc_id)
              WHERE fp.fingerprint NOT IN (SELECT fingerprint FROM store)
            ),
            ncand AS (
              SELECT DISTINCT n.doc_id AS id_new, s.doc_id AS id_old
              FROM eb n JOIN eb s ON n.band = s.band AND n.h = s.h
              WHERE n.doc_id IN (SELECT doc_id FROM x1)
                AND s.doc_id IN (SELECT doc_id FROM store)
            ),
            nver AS (
              SELECT DISTINCT ncand.id_new FROM ncand
              JOIN jh a ON a.doc_id = ncand.id_new
              JOIN jh b ON b.doc_id = ncand.id_old
              WHERE ROUND(CAST(len(list_filter(a.hs, x -> list_contains(b.hs, x)))
                               AS DOUBLE)
                          / len(list_distinct(list_concat(a.hs, b.hs))), 6) >= ?
            ),
            x2 AS (SELECT * FROM x1 WHERE doc_id NOT IN (SELECT id_new FROM nver))
            SELECT MIN(doc_id) AS doc_id, fingerprint FROM x2 GROUP BY fingerprint
            """,
            [self.threshold],
        ).fetchall()
        con.executemany("INSERT INTO store VALUES (?, ?)", rows)
        return {(int(d), int(f)) for d, f in rows}

    def append(self, vectors: pa.Table) -> None:
        self.con.register("app_in", vectors)
        self.con.execute(
            "CREATE OR REPLACE TEMP TABLE app AS SELECT vec_id,"
            " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM app_in"
        )
        self._assign("app")

    def knn(self, queries: pa.Table, *, k: int, nprobe: int) -> list[tuple]:
        """``(query_id, neighbor_id, cos, rank)`` rows, ranked by cosine
        then neighbour id over the ``nprobe`` nearest cells."""
        self.con.register("q_in", queries)
        return self.con.execute(
            f"""
            WITH q AS (
              SELECT query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
              FROM q_in
            ),
            qcell AS (
              SELECT q.query_id, q.qv, c.cid, ROW_NUMBER() OVER (
                PARTITION BY q.query_id
                ORDER BY ROUND({_cos_fold_sql('q.qv', 'c.cv')}, 9) DESC, c.cid
              ) AS rk
              FROM q, cents c
            ),
            s AS (
              SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
                     ROUND({_cos_fold_sql('q.qv', 'c.v')}, 9) AS cos
              FROM cells c JOIN (SELECT * FROM qcell WHERE rk <= ?) q USING (cid)
              WHERE c.vec_id != q.query_id
            ),
            r AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, neighbor_id) AS rk
              FROM s
            )
            SELECT query_id, neighbor_id, cos, CAST(rk AS INT) FROM r
            WHERE rk <= ? ORDER BY query_id, rk""",
            [nprobe, k],
        ).fetchall()


def knn_mismatch(expected: list[tuple], actual: list[tuple]) -> bool:
    """True when the served neighbours differ from the oracle: ids and
    ranks must be equal, cosines equal to 1e-9."""
    if len(expected) != len(actual):
        return True
    e = sorted(expected, key=lambda r: (r[0], r[3]))
    a = sorted(actual, key=lambda r: (r[0], r[3]))
    return any(
        x[0] != y[0] or x[1] != y[1] or x[3] != y[3]
        or not np.isclose(x[2], y[2], rtol=0, atol=1e-9)
        for x, y in zip(e, a)
    )


# -- the batch QC pass (one station per corpus round) -------------------------

_PROGRESS = ("pct_checked", "pct_approved", "pct_unchecked", "pct_missing",
             "pct_flagged")


def batch_replay(src: str, sensor: str, rules: dict):
    """A DuckDB connection holding ``want``: the station table with the
    flags the job must leave, ``sensor`` flagged -2 where the range,
    spike or flatline rule fires, NULLs -1, every other value 0."""
    con = duckdb.connect()
    v = sensor
    fired = (
        f"{v} < {rules['lo']} OR {v} > {rules['hi']}"
        f" OR (p1 IS NOT NULL AND abs({v} - p1) > {rules['max_step']})"
        f" OR (p1 IS NOT NULL AND p2 IS NOT NULL AND p1 = {v} AND p2 = {v})"
    )
    flags = ", ".join(
        f"CASE WHEN {s} IS NULL THEN -1"
        + (f" WHEN {fired} THEN -2" if s == v else "")
        + f" ELSE 0 END AS {s}_qcflag"
        for s in gen.SENSORS
    )
    con.execute(
        f"""CREATE TABLE want AS
        SELECT ts, {', '.join(gen.SENSORS)}, {flags} FROM (
          SELECT *, lag({v}, 1) OVER (ORDER BY ts) AS p1,
                    lag({v}, 2) OVER (ORDER BY ts) AS p2
          FROM read_parquet(?))""",
        [src],
    )
    return con


def batch_progress(con) -> dict[str, dict]:
    """Per sensor of ``want``: valid values and the unrounded shares
    that ``progress`` reports, in percent."""
    out = {}
    for s in gen.SENSORS:
        n_all, n_valid, checked, appr, unch, miss, flg = con.execute(
            f"""SELECT count(*), count({s}),
                   count(*) FILTER ({s} IS NOT NULL AND {s}_qcflag NOT IN (0, -1)),
                   count(*) FILTER ({s}_qcflag = 1),
                   count(*) FILTER ({s}_qcflag = 0),
                   count(*) FILTER ({s}_qcflag = -1),
                   count(*) FILTER ({s}_qcflag = -2) FROM want"""
        ).fetchone()
        shares = (checked / n_valid, appr / n_all, unch / n_all,
                  miss / n_all, flg / n_all)
        out[s] = {"variable": s, "total": n_valid,
                  **{k: 100.0 * x for k, x in zip(_PROGRESS, shares)}}
    return out


def batch_ok(src: str, sensor: str, rules: dict, progress: list[dict],
             out_dir: str, stem: str) -> bool:
    """One station job against its replay: the progress rows; the
    Parquet export's flags; every exported file against the checksum
    file."""
    con = batch_replay(src, sensor, rules)
    want = batch_progress(con)
    if sorted(r["variable"] for r in progress) != sorted(want):
        return False
    for row in progress:
        exp = want[row["variable"]]
        if row["total"] != exp["total"] or any(
            abs(row[k] - exp[k]) > 0.0051 for k in _PROGRESS  # 2-dp rounding
        ):
            return False
    got = f"{out_dir}/{stem}_qc_parquet/*.parquet"
    try:
        bad = con.execute(
            f"""SELECT count(*) FROM want w FULL JOIN read_parquet(?) g
            USING (ts) WHERE {' OR '.join(
                f'w.{s}_qcflag IS DISTINCT FROM g.{s}_qcflag'
                for s in gen.SENSORS)}""",
            [got],
        ).fetchone()[0]
    except duckdb.Error:  # a missing or unreadable export
        return False
    if bad:
        return False
    listed = {}
    try:
        with open(f"{out_dir}/{stem}_checksums.md5") as fh:
            for line in fh:
                digest, rel = line.rstrip("\n").split("  ", 1)
                listed[rel] = digest
    except OSError:
        return False
    written = {
        os.path.relpath(p, out_dir)
        for d in glob.glob(f"{out_dir}/{stem}_*_*")
        if os.path.isdir(d)
        for p in glob.glob(f"{d}/*")
        if not os.path.basename(p).startswith(("_", "."))
    }
    if set(listed) != written:
        return False
    for rel, digest in listed.items():
        with open(os.path.join(out_dir, rel), "rb") as fh:
            if hashlib.md5(fh.read()).hexdigest() != digest:
                return False
    return True
