"""Workload ``asof``: the feature backfill at volume, the same plan on a
small input, and small-batch as-of serving, in one session.

Classes (see README.md for why):

* ``bulk``  — ``features.feature_backfill`` (default ``FEATURE_PAYLOAD``)
  over the staged ``sequences``/``probes`` → parquet sink.  Data volume
  dominates.
* ``small`` — the same call over a 1% slice of the documents (their
  sequences and the probes that target them).  Per-call fixed cost of the
  backfill plan dominates.
* ``read``  — ``streaming.asof_serve.asof_answer_batch(state, batch)
  .collect()`` of a fixed-size probe batch against the persisted
  ``sequence_features`` state table.  Per-query fixed cost dominates.

Every answer is checked against the DuckDB oracle ``ORACLE_FEATURE_BACKFILL``
run on the same generated tables.
"""

from __future__ import annotations

import glob

import duckdb
import numpy as np
import pyarrow as pa

import gen
from harness import median, read_parquet_files

N_DOCS = 10_000
N_ORDERS = 80_000
SMALL_DOCS = 100  # doc ids below this form the small slice (1% of documents)
BATCH_PROBES = 256
# Per-call walls over 60 s of cycles reach their plateau from the third
# cycle on with the C1 JIT harness.start_spark sets; the warm-up runs 3.
CYCLE = ("bulk", "small", "read")
WARMUP = ("small", "read", "bulk") * 3
# One CYCLE and its reference job at HEAD; --seconds fixes the cycle count.
CYCLE_SECONDS = 3.4
KEYS = ["doc_id", "source"]


class Workload:
    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.duck = duckdb.connect(config={"temp_directory": f"{work}/duck", "memory_limit": "2GB"})
        self.served: list[tuple[list[str], list]] = []  # (probe ids, answers)
        self.sinks: list[tuple[object, str]] = []  # (span, sink dir) per backfill call

    # -- set-up --------------------------------------------------------
    def prepare(self) -> None:
        """Generate and stage every input; needs no Spark session."""
        from __spark_entry__ import FEAT_CTE_DUCK

        from uncharted_ta1_spark import datagen

        w, d = self.work, self.duck
        gen.write_base_tables(f"{w}/base", seed=self.seed, n_docs=N_DOCS, n_orders=N_ORDERS)
        gen.duck_views(d, f"{w}/base")
        seq_cols = "doc_id, source, seq_no, event_epoch, tokens, n_tok"
        seq = datagen.duck_with(datagen.SEQUENCES_DUCK)
        prb = datagen.duck_with(datagen.PROBES_DUCK)
        small = f" WHERE CAST(substr(doc_id, 5) AS BIGINT) < {SMALL_DOCS}"
        self.rows = {
            "seq": gen.stage(d, f"{seq} SELECT {seq_cols} FROM sequences", f"{w}/seq.parquet"),
            "prb": gen.stage(d, f"{prb} SELECT probe_id, doc_id, source, ts_epoch FROM probes",
                             f"{w}/prb.parquet"),
        }
        for name in ("seq", "prb"):
            self.rows[f"{name}_small"] = gen.stage(
                d, f"SELECT * FROM '{w}/{name}.parquet'{small}", f"{w}/{name}_small.parquet"
            )
        # The serving state is the sequence_features table, staged like the
        # inputs from its DuckDB twin (row-for-row equal, the oracle's own
        # derivation) so a run pays the cold first Spark action only once.
        gen.stage(
            d,
            f"{seq},\n{FEAT_CTE_DUCK} SELECT {seq_cols}, lag_n_tok_1, lead_n_tok_1, "
            "lag_tokens_1, lead_tokens_1, roll_sum_n_tok_w5, roll_mean_n_tok_w5, "
            "session_id, session_len, session_sum_n_tok FROM feat",
            f"{w}/state.parquet",
        )
        # serving batches: fixed-size probe samples drawn from the seed
        probes = d.sql(f"SELECT * FROM '{w}/prb.parquet' ORDER BY probe_id").df()
        rng = np.random.default_rng(self.seed + 1)
        self.batches = [
            probes.iloc[np.sort(rng.choice(len(probes), BATCH_PROBES, replace=False))]
            for _ in range(200)
        ]

    def setup(self, spark, calls) -> None:
        w = self.work
        self.spark = spark
        for name in ("seq", "prb", "seq_small", "prb_small", "state"):
            setattr(self, name, spark.read.parquet(f"{w}/{name}.parquet"))
        for cls in WARMUP:
            self._call(calls, cls, timed=False)
        for _ in range(2):
            calls.reference(spark, timed=False)

    # -- timed region ----------------------------------------------------
    def measure(self, calls, seconds: float) -> None:
        for _ in range(max(1, round(seconds / CYCLE_SECONDS))):
            for cls in CYCLE:
                self._call(calls, cls, timed=True)
            calls.reference(self.spark, timed=True)

    def _call(self, calls, cls: str, *, timed: bool) -> None:
        from uncharted_ta1_spark.features import FEATURE_PAYLOAD, feature_backfill
        from uncharted_ta1_spark.streaming.asof_serve import asof_answer_batch

        w = self.work
        if cls in ("bulk", "small"):
            seq, prb = (self.seq, self.prb) if cls == "bulk" else (self.seq_small, self.prb_small)
            sfx = "" if cls == "bulk" else "_small"
            sink = f"{w}/sink_{cls}/{len(self.sinks)}"
            calls.call(
                cls, "feature_backfill",
                lambda: feature_backfill(seq, prb).write.parquet(sink),
                timed=timed, rows=self.rows["seq" + sfx] + self.rows["prb" + sfx],
            )
            self.sinks.append((calls.spans[-1], sink))
            return
        pdf = self.batches[len(self.served) % len(self.batches)]
        batch = self.spark.createDataFrame(pdf)
        rows = calls.call(
            cls, "asof_answer_batch",
            lambda: asof_answer_batch(
                self.state, batch, keys=KEYS, payload_cols=list(FEATURE_PAYLOAD)
            ).collect(),
            timed=timed, rows=len(pdf),
        )
        self.served.append((list(pdf["probe_id"]), rows))

    # -- traced run only: one public function each, on materialized input --
    def isolated(self, calls) -> dict[str, float]:
        from pyspark.sql import functions as F

        from uncharted_ta1_spark.features import FEATURE_PAYLOAD, sequence_features
        from uncharted_ta1_spark.operators.asof import asof_join

        w = self.work
        last_bulk = [sink for span, sink in self.sinks if span.cls == "bulk"][-1]
        out = self.spark.read.parquet(last_bulk).cache()
        out.count()
        jobs = {
            "isolated.windows_s": lambda: sequence_features(self.seq)
            .write.format("noop").mode("overwrite").save(),
            "isolated.asof_join_s": lambda: asof_join(
                self.state, self.prb, keys=KEYS, payload_cols=list(FEATURE_PAYLOAD),
                defaults={"tokens": F.array().cast("array<int>"), "n_tok": F.lit(-1)},
            ).write.format("noop").mode("overwrite").save(),
            "isolated.sink_write_s": lambda: out.write.mode("overwrite").parquet(f"{w}/sink_iso"),
        }
        for _ in range(3):
            for name, fn in jobs.items():
                calls.call("isolated", name, fn, timed=False, rows=0)
        out.unpersist()
        return {
            name: median([s.wall for s in calls.spans if s.name == name]) for name in jobs
        }

    def extra(self, calls) -> dict[str, float]:
        return {}

    # -- correctness, after the session has stopped -------------------------
    def check(self, calls) -> tuple[int, int]:
        """(attempted, failed) over the timed calls: each timed bulk or small
        call's own sink and each served batch against the oracle."""
        from __spark_entry__ import ORACLE_FEATURE_BACKFILL, _duck_csv

        w, d = self.work, self.duck
        d.sql(f"CREATE TABLE oracle AS {ORACLE_FEATURE_BACKFILL}")
        cols = list(d.sql("SELECT * FROM oracle LIMIT 0").columns)
        canon = {
            "asof_tokens_csv": "coalesce(array_to_string(asof_tokens, ','), '')",
            "asof_lag_tokens_1_csv": _duck_csv("asof_lag_tokens_1"),
            "asof_lead_tokens_1_csv": _duck_csv("asof_lead_tokens_1"),
        }
        select = ", ".join(f"{canon.get(c, c)} AS {c}" for c in cols)
        small = f"WHERE probe_id IN (SELECT probe_id FROM '{w}/prb_small.parquet')"
        d.sql(f"CREATE TABLE oracle_small AS SELECT * FROM oracle {small}")

        def sink_diff(sink: str, want: str) -> int:
            d.register("sink", read_parquet_files(glob.glob(f"{sink}/*.parquet")))
            got = f"SELECT {select} FROM sink"
            return d.sql(
                f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL SELECT * FROM {want})) + "
                f"(SELECT count(*) FROM (SELECT * FROM {want} EXCEPT ALL {got}))"
            ).fetchone()[0]

        backfills = [(span, sink) for span, sink in self.sinks if span.timed]
        failed = sum(
            sink_diff(sink, "oracle" if span.cls == "bulk" else "oracle_small") != 0
            for span, sink in backfills
        )

        timed = [
            served for span, served in zip([s for s in calls.spans if s.cls == "read"], self.served)
            if span.timed
        ]
        d.register("served", pa.table({"probe_id": [i for ids, _ in timed for i in ids]}))
        want = {r[0]: r for r in d.sql(
            "SELECT * FROM oracle WHERE probe_id IN (SELECT probe_id FROM served)"
        ).fetchall()}
        for ids, rows in timed:
            got = sorted(_canon_row(r.asDict(), cols) for r in rows)
            failed += got != sorted(want[i] for i in ids)
        return len(backfills) + len(timed), failed


def _csv(v):
    return None if v is None else ",".join(map(str, v))


def _canon_row(r: dict, cols: list[str]) -> tuple:
    """A served answer in the oracle's column order and encodings."""
    r = dict(r)
    r["asof_tokens_csv"] = _csv(r.pop("asof_tokens")) or ""
    r["asof_lag_tokens_1_csv"] = _csv(r.pop("asof_lag_tokens_1"))
    r["asof_lead_tokens_1_csv"] = _csv(r.pop("asof_lead_tokens_1"))
    return tuple(r[c] for c in cols)
