"""The three workloads: set-up, one op at a time, and answer checks.

Each op calls the engine's public functions the way a user would. Spans
name the layer a call enters; they record nothing unless the run is
traced. ``after`` gathers per-op facts for traced runs outside the timed
region, and ``check`` compares every answer with the model after the run.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from kvbench import gen
from kvbench.model import DedupModel, KvModel
from spark_hbase_connector_spark.operators.compaction import (
    compact_flush_files,
    plan_compaction,
)
from spark_hbase_connector_spark.operators.dedup import (
    minhash_lsh_pairs,
    shingle_jaccard_pairs_prefix,
    simhash_pairs,
)
from spark_hbase_connector_spark.operators.graph import connected_components
from spark_hbase_connector_spark.operators.mutations import apply_increments
from spark_hbase_connector_spark.operators.upsert import merge_rows
from spark_hbase_connector_spark.sources.catalog import parse_catalog
from spark_hbase_connector_spark.sources.stats_scan import head_by_rowkey
from spark_hbase_connector_spark.sources.table import load_table, write_table

KV_JSON = json.dumps(gen.KV_CATALOG)
#: tables are written and read under ``cf:qualifier`` physical names
NAMING = "cf:col"
#: minor compaction packs flush files into groups of about this size. It is
#: below the size of a write_table file, so only the small hbasekv flush
#: files are rewritten (see WORKLOADS.md on what a larger target runs into)
COMPACT_TARGET = 128 << 10
#: kv_ingest's warm-up cycles
WARM_CYCLES = 2


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def parquet_files(path: str) -> set[str]:
    return {f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith(".")}


class Workload:
    name = ""

    def __init__(self, seed: int, work: str, tracer) -> None:
        self.seed = seed
        self.work = os.path.join(work, self.name)
        self.tr = tracer
        self.inputs = gen.INPUTS[self.name](seed)
        self.stored_ratio = 0.0

    def cycle(self, c: int) -> list[tuple]:
        return self.inputs.cycle(c)

    def before(self, op: tuple, rec: dict) -> None:
        """Traced runs only, outside the timed region."""

    def after(self, op: tuple, rec: dict) -> None:
        """Traced runs only, outside the timed region."""

    def cycle_done(self, c: int) -> None:
        """Called after each cycle, outside the timed region."""

    def _fresh(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)

    def _catalog(self, catalog: dict):
        with self.tr.span("sources.catalog.parse_catalog"):
            return parse_catalog(catalog)

    def _collect(self, df) -> list[tuple]:
        with self.tr.span("spark.collect"):
            return [tuple(r) for r in df.collect()]

    def _write_table(self, frame, catalog, path: str, parts: int) -> None:
        with self.tr.span("sources.table.write_table"):
            write_table(frame, catalog, path, num_partitions=parts)


# ------------------------------------------------------------ KV workloads


class KvWorkload(Workload):
    """Reads shared by kv_serve and kv_ingest, against ``self.path``."""

    def read(self, spark, op: tuple):
        kind = op[0]
        if kind == "lookup":
            cat = self._catalog(gen.KV_CATALOG)
            with self.tr.span("sources.table.load_table"):
                df = load_table(spark, cat, self.path, NAMING)
            return self._collect(df.where(F.col("rk") == op[1]))
        if kind == "get":
            return self._collect(self._hbasekv(spark, F.col("rk") == op[1]))
        if kind == "scan":
            lo, hi, v_below = op[1:]
            cond = (F.col("rk") >= lo) & (F.col("rk") < hi) & (F.col("v") < v_below)
            return sorted(self._collect(self._hbasekv(spark, cond).select("rk", "v")))
        cat = self._catalog(gen.KV_CATALOG)
        with self.tr.span("sources.stats_scan.head_by_rowkey"):
            plan = head_by_rowkey(spark, self.path, cat, op[1], physical_naming=NAMING)
        self.tr.note(files_selected_frac=len(plan.files_selected) / plan.files_total)
        return self._collect(plan.df)

    def _hbasekv(self, spark, cond):
        with self.tr.span("sources.python_datasource.read"):
            return (
                spark.read.format("hbasekv")
                .option("catalog", KV_JSON)
                .option("path", self.path)
                .option("physical_naming", NAMING)
                .load()
                .where(cond)
            )

    @staticmethod
    def answer(model: KvModel, op: tuple):
        kind = op[0]
        if kind in ("get", "lookup"):
            return model.get(op[1])
        return model.scan(*op[1:]) if kind == "scan" else model.head(op[1])


class KvServe(KvWorkload):
    """Read-only serving from one compacted, rowkey-sorted table."""

    name = "kv_serve"

    def setup(self, spark) -> None:
        self._fresh()
        self.path = os.path.join(self.work, "table")
        self._write_table(
            spark.createDataFrame(self.inputs.table), gen.KV_CATALOG, self.path,
            gen.SERVE_FILES,
        )
        self.model = KvModel(self.inputs.table)
        self.stored_ratio = dir_bytes(self.path) / self.model.user_bytes()

    def warm_up(self, spark) -> None:
        # from a cycle the measured stream never reaches
        for op in self.cycle(10**6):
            self.op(spark, op)
            spark.catalog.clearCache()

    def op(self, spark, op: tuple):
        return self.read(spark, op)

    def check(self, records: list[dict]) -> None:
        for r in records:
            r["ok"] = r["error"] is None and r["answer"] == self.answer(self.model, r["input"])


class KvIngest(KvWorkload):
    """The write lifecycle on a growing table: hbasekv put batches (flush
    files), minor compaction, increments and merges rewritten with
    write_table, and read-your-writes reads over the changing layout."""

    name = "kv_ingest"

    def setup(self, spark) -> None:
        self._fresh()
        self._versions = 0
        self.path = self._next_path()
        self._write_table(
            spark.createDataFrame(self.inputs.table), gen.KV_CATALOG, self.path,
            gen.INGEST_FILES,
        )
        self.cycle_bytes: dict[int, int] = {}

    def warm_up(self, spark) -> None:
        """The first ``WARM_CYCLES`` cycles on a throwaway copy of the
        starting table: the JIT was still warming after one."""
        table, self.path = self.path, os.path.join(self.work, "warm")
        self._write_table(
            spark.createDataFrame(self.inputs.table), gen.KV_CATALOG, self.path,
            gen.INGEST_FILES,
        )
        for c in range(WARM_CYCLES):
            for op in self.cycle(c):
                self.op(spark, op)
                spark.catalog.clearCache()
        shutil.rmtree(self.path)
        self.path = table

    def _next_path(self) -> str:
        self._versions += 1
        return os.path.join(self.work, f"v{self._versions}")

    def op(self, spark, op: tuple):
        kind = op[0]
        if kind == "put":
            with self.tr.span("session.create_dataframe"):
                df = spark.createDataFrame(op[1])
            with self.tr.span("sources.python_datasource.write"):
                (
                    df.write.format("hbasekv")
                    .mode("append")
                    .option("catalog", KV_JSON)
                    .option("path", self.path)
                    .option("physical_naming", NAMING)
                    .save()
                )
            return None
        if kind == "compact":
            with self.tr.span("operators.compaction.compact_flush_files"):
                res = compact_flush_files(spark, self.path, target_bytes=COMPACT_TARGET)
            self.tr.note(files_before=res["files_before"], files_after=res["files_after"])
            return None
        if kind not in ("incr", "merge"):
            return self.read(spark, op)
        # increments and merges rewrite the table as a new version
        cat = self._catalog(gen.KV_CATALOG)
        with self.tr.span("session.create_dataframe"):
            batch = spark.createDataFrame(op[1])
        with self.tr.span("sources.table.load_table"):
            base = load_table(spark, cat, self.path, NAMING)
        if kind == "incr":
            with self.tr.span("operators.mutations.apply_increments"):
                out = apply_increments(base, batch, "rk", ["cnt"])
        else:
            with self.tr.span("operators.upsert.merge_rows"):
                out = merge_rows(
                    base,
                    batch,
                    "rk",
                    update_set={"v": F.col("s.v"), "score": F.col("s.score")},
                    delete_cond=F.col("s.tag") == "del",
                    insert_values={c: F.col(f"s.{c}") for c in gen.KV_COLUMNS},
                )
        new = self._next_path()
        self._write_table(out, cat, new, gen.INGEST_FILES)
        shutil.rmtree(self.path)
        self.path = new
        return None

    def before(self, op: tuple, rec: dict) -> None:
        rec["files"] = parquet_files(self.path)
        if op[0] == "compact":
            groups = plan_compaction(self.path, COMPACT_TARGET)
            rec["bytes_rewritten"] = sum(
                os.path.getsize(f) for g in groups if len(g) > 1 for f in g
            )

    def after(self, op: tuple, rec: dict) -> None:
        if op[0] == "put":
            new = parquet_files(self.path) - rec["files"]
            rec["put_files"] = len(new)
            rec["put_bytes"] = sum(os.path.getsize(os.path.join(self.path, f)) for f in new)
            rec["put_user_bytes"] = KvModel(op[1]).user_bytes()
        del rec["files"]

    def cycle_done(self, c: int) -> None:
        self.cycle_bytes[c] = dir_bytes(self.path)

    def check(self, records: list[dict]) -> None:
        """Replay the op stream on the model; reads must see every write."""
        m = KvModel(self.inputs.table)
        for i, r in enumerate(records):
            op = r["input"]
            kind = op[0]
            if kind == "put":
                m.put(op[1])
            elif kind == "incr":
                m.incr(op[1])
            elif kind == "merge":
                m.merge(op[1])
            ok = r["error"] is None
            if kind in ("get", "lookup", "scan", "head"):
                ok = ok and r["answer"] == self.answer(m, op)
            r["ok"] = ok
            if kind == "compact":
                r["user_bytes"] = m.user_bytes()
            c = r["cycle"]
            if i + 1 == len(records) or records[i + 1]["cycle"] != c:
                # stored bytes are read at the end of each cycle
                self.stored_ratio = self.cycle_bytes[c] / m.user_bytes()


# ------------------------------------------------------------- corpus_dedup


class CorpusDedup(Workload):
    """Near-duplicate detection over rotated document shards."""

    name = "corpus_dedup"

    def setup(self, spark) -> None:
        self._fresh()
        self.paths = []
        for i, shard in enumerate(self.inputs.shards):
            path = os.path.join(self.work, f"shard{i}")
            self._write_table(spark.createDataFrame(shard), gen.DOC_CATALOG, path, 4)
            self.paths.append(path)
        user = sum(8 + len(t.encode()) for s in self.inputs.shards for t in s["text"])
        self.stored_ratio = sum(dir_bytes(p) for p in self.paths) / user
        self.models: dict[int, DedupModel] = {}

    def warm_up(self, spark) -> None:
        """One cycle on the shards: a smaller shard left the first measured
        connected-components op a quarter slower than the later ones."""
        for op in self.cycle(0):
            self.op(spark, op)
            spark.catalog.clearCache()

    def op(self, spark, op: tuple):
        kind, shard = op
        cat = self._catalog(gen.DOC_CATALOG)
        with self.tr.span("sources.table.load_table"):
            docs = load_table(spark, cat, self.paths[shard], NAMING)
        if kind == "components":
            with self.tr.span("operators.dedup.shingle_jaccard_pairs_prefix"):
                pairs = shingle_jaccard_pairs_prefix(
                    docs, "text", "doc_id", threshold=gen.JACCARD, w=gen.SHINGLE_W
                )
            with self.tr.span("operators.graph.connected_components"):
                out = connected_components(pairs.select("id1", "id2"))
        elif kind == "minhash":
            with self.tr.span("operators.dedup.minhash_lsh_pairs"):
                out = minhash_lsh_pairs(
                    docs, "text", "doc_id", threshold=gen.JACCARD, w=gen.SHINGLE_W
                )
        else:
            with self.tr.span("operators.dedup.simhash_pairs"):
                out = simhash_pairs(
                    docs, "text", "doc_id", max_hamming=gen.MAX_HAMMING, w=gen.SHINGLE_W
                )
        return set(self._collect(out))

    def check(self, records: list[dict]) -> None:
        for r in records:
            kind, shard = r["input"]
            if shard not in self.models:
                self.models[shard] = DedupModel(self.inputs.shards[shard])
            m = self.models[shard]
            want = {"components": m.components, "minhash": m.pair_set(),
                    "simhash": m.simhash_set()}[kind]
            r["ok"] = r["error"] is None and r["answer"] == want


WORKLOADS = {w.name: w for w in (KvServe, KvIngest, CorpusDedup)}
