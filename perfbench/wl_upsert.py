"""Workload ``upsert``: keyed CDC commits beside point reads on a
``plans.merge`` table.

The table holds the staged ``sequences`` keyed by ``(doc_id, source,
seq_no)``, hash-bucketed 16 ways.  The timed round is a fixed schedule:

* ``small`` — a CDC commit of 4 keys (2 updates, 1 insert, 1 tombstone), so
  at most 4 buckets are rewritten;
* ``bulk``  — a commit of 3,000 keys (60% updates, 25% inserts, 15%
  tombstones), so every bucket is rewritten;
* ``read``  — after every commit, ``read_current(where=…)`` of one document
  the commit touched, filtered and collected;
* ``maint`` — the round ends with ``compact_table`` then
  ``expire_snapshots`` (so does the warm-up).

Small and bulk commits are separate classes and never share a median.  The
check replays every commit in DuckDB and compares each commit's counts,
each read and the final table.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

import gen
from harness import median, read_parquet_files

N_DOCS = 10_000
N_BUCKETS = 16
KEYS = ["doc_id", "source", "seq_no"]
SMALL = (2, 1, 1)  # updates, inserts, tombstones per small commit
BULK = (1800, 750, 450)
# From per-call walls over 45 s of cycles with the C1 JIT
# harness.start_spark sets: bulk commits level off after ~4 calls, small
# commits after ~8 and point reads after ~11.  The warm-up follows the
# initial load (itself the coldest merge), reaches those counts and runs
# every path once, so every timed call is on or near that plateau.
CYCLE = ("small", "read", "bulk", "read")
WARMUP = CYCLE * 4 + ("small", "read") * 3 + ("compact", "expire")
# One CYCLE and its reference job at HEAD; --seconds fixes the cycle count.
CYCLE_SECONDS = 3.2
SCHEMA = (
    "doc_id string, source string, seq_no int, event_epoch long, "
    "tokens array<int>, n_tok int, deleted boolean"
)


class Workload:
    def __init__(self, work: str, seed: int):
        self.work = work
        self.table = f"{work}/table"
        self.duck = duckdb.connect(config={"temp_directory": f"{work}/duck", "memory_limit": "2GB"})
        self.rng = np.random.default_rng(seed + 2)
        self.ops: list[tuple] = []  # every engine call in order, for the replay
        self.touched = {"small": [], "bulk": []}
        self.opened_share: list[float] = []
        self.files_opened: list[int] = []
        self.space_amp: list[float] = []
        self.seed = seed

    # -- set-up --------------------------------------------------------
    def prepare(self) -> None:
        """Generate and stage the base table; needs no Spark session."""
        from uncharted_ta1_spark import datagen

        w = self.work
        gen.write_base_tables(f"{w}/base", seed=self.seed, n_docs=N_DOCS, n_orders=1000)
        gen.duck_views(self.duck, f"{w}/base")
        gen.stage(
            self.duck,
            datagen.duck_with(datagen.SEQUENCES_DUCK)
            + " SELECT doc_id, source, seq_no, event_epoch, tokens, n_tok FROM sequences",
            f"{w}/seq.parquet",
        )
        keys = self.duck.sql(f"SELECT doc_id, source, seq_no FROM '{w}/seq.parquet'").fetchall()
        self.live = list(keys)
        self.pos = {k: i for i, k in enumerate(self.live)}
        self.next_seq_no = 1000  # inserted keys use seq_no values the base never has

    def setup(self, spark, calls) -> None:
        from pyspark.sql import functions as F

        from uncharted_ta1_spark.plans.merge import merge_upsert

        w = self.work
        self.spark = spark
        base = spark.read.parquet(f"{w}/seq.parquet").withColumn("deleted", F.lit(False))
        result = calls.call(
            "load", "merge_upsert",
            lambda: merge_upsert(spark, self.table, base, KEYS, n_buckets=N_BUCKETS, delete_col="deleted"),
            timed=False, rows=len(self.live),
        )
        self.ops.append(("load", None, result))
        self._steps(calls, WARMUP, timed=False)
        for _ in range(2):
            calls.reference(spark, timed=False)

    # -- timed region ----------------------------------------------------
    def measure(self, calls, seconds: float) -> None:
        """One round: a fixed number of cycles, each followed by the
        reference job, then compaction and expiry."""
        for _ in range(max(1, round(seconds / CYCLE_SECONDS))):
            self._steps(calls, CYCLE, timed=True)
            calls.reference(self.spark, timed=True)
        self._steps(calls, ("compact", "expire"), timed=True)

    def _steps(self, calls, steps: tuple[str, ...], *, timed: bool) -> None:
        from pyspark.sql import functions as F

        from uncharted_ta1_spark.plans.merge import (
            compact_table, current_manifest, expire_snapshots, merge_upsert,
            read_current, scan_info,
        )

        spark, t = self.spark, self.table
        for step in steps:
            if step in ("small", "bulk"):
                pdf = self._batch(*(SMALL if step == "small" else BULK))
                batch = spark.createDataFrame(pdf, SCHEMA)
                before = current_manifest(t)["buckets"]
                result = calls.call(
                    step, "merge_upsert",
                    lambda: merge_upsert(spark, t, batch, KEYS, n_buckets=N_BUCKETS, delete_col="deleted"),
                    timed=timed, rows=len(pdf),
                )
                after = current_manifest(t)["buckets"]
                self.touched[step].append(
                    sum(before.get(b) != after.get(b) for b in set(before) | set(after))
                )
                self.ops.append(("commit", pdf, result))
                self.last_doc = pdf["doc_id"].iloc[0]
            elif step == "read":
                doc = self.last_doc
                where = {"doc_id": (doc, doc)}
                info, buckets = scan_info(t, where), current_manifest(t)["buckets"]
                self.opened_share.append(info["n_buckets_read"] / info["n_buckets_total"])
                self.files_opened.append(
                    sum(len(_parquet_files(f"{t}/{buckets[b]['path']}")) for b in info["buckets"])
                )
                rows = calls.call(
                    "read", "read_current",
                    lambda: read_current(spark, t, where=where).where(F.col("doc_id") == doc).collect(),
                    timed=timed, rows=1,
                )
                self.ops.append(("read", doc, rows))
            elif step == "compact":
                result = calls.call("maint", "compact_table", lambda: compact_table(spark, t),
                                    timed=timed, rows=0)
                self.ops.append(("compact", None, result))
                self.space_amp.append(_du(t) / _snapshot_bytes(t, current_manifest(t)))
            else:
                calls.call("maint", "expire_snapshots", lambda: expire_snapshots(t),
                           timed=timed, rows=0)

    def _batch(self, n_upd: int, n_ins: int, n_del: int) -> pd.DataFrame:
        """One CDC batch with distinct keys: updates and tombstones of live
        keys, inserts of new keys under live documents."""
        rng = self.rng
        picked = rng.choice(len(self.live), n_upd + n_del, replace=False)
        old = [self.live[i] for i in picked]
        docs = [self.live[i][0] for i in rng.integers(0, len(self.live), n_ins)]
        new = [(d, "cdc", self.next_seq_no + i) for i, d in enumerate(docs)]
        self.next_seq_no += n_ins
        for k in old[n_upd:]:  # tombstoned keys leave the live set
            i = self.pos.pop(k)
            last = self.live.pop()
            if i < len(self.live):
                self.live[i] = last
                self.pos[last] = i
        for k in new:
            self.pos[k] = len(self.live)
            self.live.append(k)
        keys = old[:n_upd] + new + old[n_upd:]
        n = len(keys)
        lens = rng.integers(1, 9, n)
        toks = rng.integers(0, 50257, int(lens.sum())).astype(np.int32)
        cuts = np.cumsum(lens)[:-1]
        return pd.DataFrame({
            "doc_id": [k[0] for k in keys],
            "source": [k[1] for k in keys],
            "seq_no": np.array([k[2] for k in keys], dtype=np.int32),
            "event_epoch": rng.integers(1704067200, 1704067200 + 10**7, n),
            "tokens": [list(map(int, a)) for a in np.split(toks, cuts)],
            "n_tok": lens.astype(np.int32),
            "deleted": np.arange(n) >= n_upd + n_ins,
        })

    def extra(self, calls) -> dict[str, float]:
        maint = lambda name: median(  # noqa: E731
            [s.wall for s in calls.spans if s.name == name and s.timed]
        )
        return {
            "merge.small_buckets_touched": median(self.touched["small"]),
            "merge.bulk_buckets_touched": median(self.touched["bulk"]),
            "merge.read_buckets_opened_share": median(self.opened_share),
            "merge.read_files_opened": median(self.files_opened),
            "merge.compact_s": maint("compact_table"),
            "merge.expire_s": maint("expire_snapshots"),
            "merge.space_amp": median(self.space_amp),
        }

    def isolated(self, calls) -> dict[str, float]:
        return {}

    # -- correctness, after the session has stopped -------------------------
    def check(self, calls) -> tuple[int, int]:
        """(attempted, failed) over the timed calls: each commit's counts,
        each read and each compaction against a DuckDB replay of every
        commit, and the final table against the replayed table."""
        from uncharted_ta1_spark.plans.merge import current_manifest

        d = self.duck
        d.sql(f"CREATE TABLE t AS SELECT * FROM '{self.work}/seq.parquet'")
        spans = [s for s in calls.spans if s.name in ("merge_upsert", "read_current", "compact_table")]
        attempted = failed = 0
        for span, (kind, arg, got) in zip(spans, self.ops):
            if kind == "commit":
                d.register("b", arg)
                n_upd, n_del = d.sql(
                    "SELECT count(*) FILTER (NOT b.deleted), count(*) FILTER (b.deleted) "
                    "FROM t JOIN b USING (doc_id, source, seq_no)"
                ).fetchone()
                n_ups = int((~arg["deleted"]).sum())
                d.sql("DELETE FROM t USING b WHERE t.doc_id = b.doc_id AND t.source = b.source "
                      "AND t.seq_no = b.seq_no")
                d.sql("INSERT INTO t SELECT doc_id, source, seq_no, event_epoch, tokens, n_tok "
                      "FROM b WHERE NOT deleted")
                d.unregister("b")
                want = {"rows_updated": n_upd, "rows_deleted": n_del,
                        "rows_inserted": n_ups - n_upd, "rows_total": _count(d)}
                ok = all(got[k] == v for k, v in want.items())
            elif kind == "read":
                want = d.execute("SELECT * FROM t WHERE doc_id = ?", [arg]).fetchall()
                ok = sorted(map(_canon, want)) == sorted(
                    _canon(tuple(r[c] for c in ("doc_id", "source", "seq_no", "event_epoch", "tokens", "n_tok")))
                    for r in got
                )
            else:
                ok = got["rows_total"] == _count(d)
            if span.timed:
                attempted += 1
                failed += not ok
        buckets = current_manifest(self.table)["buckets"].values()
        files = [f for e in buckets for f in _parquet_files(f"{self.table}/{e['path']}")]
        d.register("final_files", read_parquet_files(files))
        final = "SELECT doc_id, source, seq_no, event_epoch, tokens, n_tok FROM final_files"
        diff = d.sql(
            f"SELECT (SELECT count(*) FROM ({final} EXCEPT ALL SELECT * FROM t)) + "
            f"(SELECT count(*) FROM (SELECT * FROM t EXCEPT ALL {final}))"
        ).fetchone()[0]
        return attempted + 1, failed + (diff != 0)


def _count(d) -> int:
    return d.sql("SELECT count(*) FROM t").fetchone()[0]


def _canon(row: tuple) -> tuple:
    return tuple(tuple(v) if isinstance(v, list) else v for v in row)


def _parquet_files(bucket_dir: str) -> list[str]:
    return [f"{bucket_dir}/{f}" for f in os.listdir(bucket_dir) if f.endswith(".parquet")]


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def _snapshot_bytes(table: str, manifest: dict) -> int:
    return sum(_du(f"{table}/{e['path']}") for e in manifest["buckets"].values())
