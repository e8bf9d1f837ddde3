"""The three closed-loop workloads.

Each workload is driven by one client thread: ``setup`` builds its
inputs and warms the session, then the runner repeats ``commit`` (source
commits, outside the op's latency) and ``op`` (the timed operation) and
``gate`` (per-op correctness, outside every timed span), and finally
calls ``check`` for the end-of-run gates. ``op`` returns False for a
failed op; a wrong output found by a gate is also a failure.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen


def digest(df):
    """Order-insensitive digest of a Spark frame (``tools/check_oracle``'s
    ``frame_digest``); nested columns are compared as JSON."""
    from tools.check_oracle import frame_digest

    nested = (T.StructType, T.ArrayType, T.MapType)
    cols = [
        F.to_json(F.col(f.name)).alias(f.name) if isinstance(f.dataType, nested) else F.col(f.name)
        for f in df.schema.fields
    ]
    return frame_digest(df.select(*cols).toPandas())[:3]


def _parquet_bytes(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


class Workload:
    name = ""
    #: One measured op a run: a benchmark check makes 48 runs within
    #: 3,420 s, and set-up alone costs 30-50 s of each (see README).
    MIN_OPS = 1
    MAX_OPS = 40

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.rows_committed = 0
        self.input_bytes = 0
        self.failures: list[str] = []
        self.ledger_root = os.path.join(ctx.run_dir, "ledgers")

    def enough(self, n_ops: int) -> bool:
        return n_ops >= self.MIN_OPS

    def commit(self, i: int) -> None:
        pass

    def gate(self, i: int) -> bool:
        return True

    def check(self) -> None:
        pass

    def failed_after_check(self, i: int) -> bool:
        """Whether the end-of-run gates condemn measured op ``i``."""
        return False

    def table(self, name: str, write_partitions=None):
        from data_seedling_spark.operators.ledger import VersionedTable

        return VersionedTable(
            self.spark, os.path.join(self.ledger_root, name), write_partitions=write_partitions
        )


# -- medallion_cdc --------------------------------------------------------------

class MedallionCdc(Workload):
    """Bronze notes → pseudonymised silver → feature-extracted gold, one
    ``run_pipeline`` call per op, fed by small increments with periodic
    erasures."""

    name = "medallion_cdc"
    BULK, INCREMENT = 500, 200
    #: The first and every second increment after it are followed by an
    #: erasure of 20 earlier notes. ``ERASE_RECENT`` of them may instead
    #: come from the increment itself, erased before the pipeline sees it:
    #: that case trips a known ledger defect (see README), so the measured
    #: workload leaves it at 0 and the benchmark's tests reproduce it.
    ERASE_EVERY, ERASE_ROWS, ERASE_RECENT = 2, 20, 0

    def setup(self):
        from data_seedling_spark.config import DateTimeRoundOpt, TableConfig

        ctx = self.ctx
        with self.tracer.span("setup.inputs"):
            ns = gen.note_stream(
                ctx.seed, self.BULK, self.INCREMENT, self.MAX_OPS, self.ERASE_EVERY, self.ERASE_ROWS,
                erase_recent=self.ERASE_RECENT,
            )
            self.all_notes = pa.concat_tables([ns.bulk, *ns.increments])
            d = os.path.join(ctx.run_dir, "inputs")
            os.makedirs(d)
            self.paths = []
            for i, t in enumerate([ns.bulk, *ns.increments]):
                p = os.path.join(d, f"notes_{i:03d}.parquet")
                pq.write_table(t, p)
                self.paths.append(p)
            self.erasures = ns.erasures
        self.pcfg = TableConfig(
            primary_keys=["note_id"],
            hash_columns=["patient_id"],
            round_datetime_columns={"ts": DateTimeRoundOpt.HOUR},
            remove_columns=["name"],
            free_text_columns=["text"],
            salt="perfbench-salt",
        )
        self.gcfg = TableConfig(primary_keys=["note_id"], analysed_columns=["text"])
        self.bronze = self.table("bronze")
        self.silver = self.table("silver")
        self.gold = self.table("gold")
        self.state = self.table("state", write_partitions=1)
        with self.tracer.span("setup.seed"):
            self.bronze.write(self._load(0), mode="overwrite")
        with self.tracer.span("setup.warmup"):
            if not self.op(-1):
                raise RuntimeError("bulk load failed: " + "; ".join(self.failures))

    def _load(self, k: int):
        with self.tracer.span("tables.load"):
            return self.spark.read.parquet(self.paths[k])

    def commit(self, i):
        p = self.paths[i + 1]
        self.input_bytes += os.path.getsize(p)
        self.rows_committed += pq.ParquetFile(p).metadata.num_rows
        self.bronze.write(self._load(i + 1), mode="append")
        gone = self.erasures[i]
        if gone:
            from data_seedling_spark.operators.merge import CHANGE_TYPE, CT_DELETE

            rows = self.all_notes.take(pa.array(gone))
            self.input_bytes += _parquet_bytes(
                rows, os.path.join(self.ctx.run_dir, "inputs", f"erase_{i:03d}.parquet")
            )
            self.rows_committed += len(gone)
            with self.tracer.span("tables.load"):
                feed = self.spark.createDataFrame(rows.to_pandas(), self.bronze.read().schema)
            self.bronze.merge(feed.withColumn(CHANGE_TYPE, F.lit(CT_DELETE)), ["note_id"])

    def _pseudonymise(self, df):
        from data_seedling_spark.pipelines.pseudonymise import pseudo_transform

        with self.tracer.span("pseudonymise.transform"):
            return pseudo_transform(df, self.pcfg)

    def _extract(self, df):
        from data_seedling_spark.pipelines.feature_extraction import extract_features

        with self.tracer.span("feature_extraction.build"):
            return extract_features(df, self.gcfg)

    def op(self, i):
        from data_seedling_spark.pipelines.runner import Activity, run_pipeline
        from data_seedling_spark.streaming.incremental import run_incremental_activity

        def activity(name, source, target, transform):
            def run():
                with self.tracer.span(f"runner.{name}"):
                    return run_incremental_activity(
                        self.spark, source, target, self.state, name, "notes",
                        ["note_id"], transform=transform,
                    )
            return run

        results = run_pipeline(
            [
                Activity("pseudonymisation",
                         activity("pseudonymisation", self.bronze, self.silver, self._pseudonymise)),
                Activity("feature_extraction",
                         activity("feature_extraction", self.silver, self.gold, self._extract),
                         depends_on=["pseudonymisation"]),
            ]
        )
        self.ctx.counts["runner.failed"] += sum(r.status == "failed" for r in results.values())
        self.ctx.counts["runner.skipped"] += sum(r.status == "skipped" for r in results.values())
        bad = [f"{r.name}: {r.status} {r.error}" for r in results.values() if r.status != "succeeded"]
        self.failures += [f"op {i}: {b}" for b in bad]
        return not bad

    def gate(self, i):
        """Each watermark must sit one past its source's latest version,
        and gold must hold exactly silver's notes."""
        from data_seedling_spark.operators.watermark import get_or_create_low_watermark

        s = self.silver.read().select("note_id")
        g = self.gold.read().select("note_id")
        stray = s.exceptAll(g).unionByName(g.exceptAll(s)).count()
        ok = stray == 0
        if not ok:
            self.failures.append(f"op {i}: gold and silver differ on {stray} note ids")
        for activity, source in (("pseudonymisation", self.bronze), ("feature_extraction", self.silver)):
            wm = get_or_create_low_watermark(self.spark, self.state, activity, "notes")
            if wm != source.latest_version() + 1:
                self.failures.append(f"op {i}: {activity} watermark {wm} != {source.latest_version() + 1}")
                ok = False
        return ok

    def check(self):
        """Silver and gold must equal a one-shot transform of the final
        bronze snapshot."""
        snap = self.bronze.read()
        want_silver = self._pseudonymise(snap)
        want_gold = self._extract(want_silver)
        for name, got, want in (("silver", self.silver.read(), want_silver),
                                ("gold", self.gold.read(), want_gold)):
            a, b = digest(got), digest(want)
            if a != b:
                self.failures.append(f"{name} digest {a} != one-shot {b}")


# -- index_maintenance ----------------------------------------------------------

class IndexMaintenance(Workload):
    """Source commits to documents and orders, each followed by a refresh
    of a tombstone-mode LSH index, a KLL sketch and a t-digest, and the
    LSH index's threshold compaction."""

    name = "index_maintenance"
    N_DOCS, N_ORDERS = 2000, 50_000
    DOC_ROWS, ORDER_ROWS, ERASE_EVERY, ERASE_ROWS = 50, 1500, 2, 100
    COMPACT_AT = 0.02
    PROBS = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    #: Rank-error tolerance of the maintained quantiles against the
    #: exact quantiles of the final source (|rank(q)/N - p|).
    KLL_EPS, TDIGEST_EPS = 0.02, 0.01

    def setup(self):
        from data_seedling_spark.operators.dedup import MaterializedLshIndex
        from data_seedling_spark.operators.sketch import MaterializedSketch, MaterializedTDigest

        ctx = self.ctx
        with self.tracer.span("setup.inputs"):
            sd, so, commits = gen.index_commits(
                ctx.seed, self.N_DOCS, self.N_ORDERS, self.MAX_OPS, self.DOC_ROWS,
                self.ORDER_ROWS, self.ERASE_EVERY, self.ERASE_ROWS,
            )
            d = os.path.join(ctx.run_dir, "inputs")
            os.makedirs(d)
            self.commits = []
            for i, (kind, docs, orders) in enumerate([("seed", sd, so), *commits]):
                pd_, po = os.path.join(d, f"docs_{i:03d}.parquet"), os.path.join(d, f"orders_{i:03d}.parquet")
                pq.write_table(docs, pd_)
                pq.write_table(orders, po)
                self.commits.append((kind, pd_, po))
        self.docs = self.table("docs", write_partitions=4)
        self.orders = self.table("orders", write_partitions=4)
        self.lsh = MaterializedLshIndex(
            self.spark, self.table("lsh", write_partitions=4), "text", "doc_id", deletes="tombstone"
        )
        self.kll = MaterializedSketch(self.spark, self.table("kll", write_partitions=1), "o_totalprice", "o_orderkey")
        self.tdigest = MaterializedTDigest(self.spark, self.table("tdigest", write_partitions=1), "o_totalprice")
        with self.tracer.span("setup.seed"):
            _, pd_, po = self.commits[0]
            self.docs.write(self._load(pd_), mode="overwrite")
            self.orders.write(self._load(po), mode="overwrite")
        with self.tracer.span("setup.warmup"):
            self.op(-1)

    def _load(self, path):
        with self.tracer.span("tables.load"):
            return self.spark.read.parquet(path)

    def commit(self, i):
        from data_seedling_spark.operators.merge import CHANGE_TYPE, CT_DELETE

        kind, pd_, po = self.commits[i + 1]
        for p in (pd_, po):
            self.input_bytes += os.path.getsize(p)
            self.rows_committed += pq.ParquetFile(p).metadata.num_rows
        if kind == "erase":
            self.docs.merge(self._load(pd_).withColumn(CHANGE_TYPE, F.lit(CT_DELETE)), ["doc_id"])
        else:
            self.docs.write(self._load(pd_), mode="append")
        self.orders.write(self._load(po), mode="append")

    def op(self, i):
        self.lsh.refresh(self.docs)
        self.kll.refresh(self.orders)
        self.tdigest.refresh(self.orders)
        ran = self.lsh.compact(min_stale_fraction=self.COMPACT_AT)
        if i >= 0:
            self.ctx.counts["matview.compactions_run" if ran else "matview.compactions_skipped"] += 1
        return True

    def check(self):
        """LSH band rows must equal a one-shot banding of the final
        documents; the maintained quantiles must sit within the sketches'
        rank-error tolerance of the exact quantiles of the final orders."""
        import numpy as np

        a, b = digest(self.lsh.read()), digest(self.lsh.band_rows(self.docs.read()))
        if a != b:
            self.failures.append(f"lsh band rows {a} != one-shot {b}")
        values = np.sort(self.orders.read().select("o_totalprice").toPandas()["o_totalprice"].to_numpy())
        for name, sketch, eps in (("kll", self.kll, self.KLL_EPS), ("tdigest", self.tdigest, self.TDIGEST_EPS)):
            rows = sketch.quantiles(self.PROBS).toPandas()
            if set(rows["total_weight"]) != {len(values)}:
                self.failures.append(f"{name} total weight {set(rows['total_weight'])} != {len(values)}")
            got = dict(zip(rows["prob"], rows["est"]))
            for p in self.PROBS:
                rank = np.searchsorted(values, got[p], side="right") / len(values)
                if abs(rank - p) > eps:
                    self.failures.append(f"{name} p={p}: rank {rank:.4f} off by more than {eps}")


# -- catalog_analytics ----------------------------------------------------------

#: The fixed 18-query mix, by family.
CATALOG = {
    "relational": [
        "flagship_revenue_by_nation", "pricing_summary", "join_segment_rollup",
        "window_top_orders_per_segment", "sessionize_events", "tpch_q20_excess_inventory",
        "tpcds_q64_snapshot_compare", "bloom_filter_semi_join",
    ],
    "sketch": ["kll_quantile_sketch", "tdigest_quantiles_orders", "hll_md5_distinct_oracle_checked"],
    "dedup": ["dedup_exact_documents", "minhash_lsh_near_dup", "exact_substring_dedup_documents"],
    "textstats": ["text_quality_scores"],
    "similarity": ["ivf_ann_topk"],
    "ml": ["logreg_classifier_train"],
    "graph": ["pagerank_weighted_copurchase"],
}
FAMILY = {q: fam for fam, qs in CATALOG.items() for q in qs}
QUERIES = [q for qs in CATALOG.values() for q in qs]


class CatalogAnalytics(Workload):
    """A read-only fixed mix of 18 registry queries, each ``fn()`` then a
    noop sink, in a seeded order per pass. Runs measure whole passes, at
    least ``MIN_PASSES``, so every run samples the same mix."""

    name = "catalog_analytics"
    SF = 0.01
    MAX_PASSES = 4
    MAX_OPS = MAX_PASSES * len(QUERIES)

    MIN_PASSES = 1

    def enough(self, n_ops):
        return n_ops % len(QUERIES) == 0 and n_ops >= self.MIN_PASSES * len(QUERIES)

    def setup(self):
        import duckdb

        from data_seedling_spark.queries import registry

        ctx = self.ctx
        self.reg = registry()
        self.sf_dir = os.path.join(ctx.run_dir, "tables")
        with self.tracer.span("setup.inputs"):
            self.table_rows = gen.write_tables(self.sf_dir, self.SF, ctx.seed)
        self.order = [q for p in gen.query_order(ctx.seed, QUERIES, self.MAX_PASSES) for q in p]
        self.golden: dict[str, tuple] = {}
        self.bad: set[str] = set()
        con = duckdb.connect()
        try:
            for t in self.table_rows:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            # Warm-up pass (first pass order): also the correctness gate.
            # Oracle-backed queries must match DuckDB on the same files;
            # the one rows-only query is re-checked against itself after
            # the measured passes.
            with self.tracer.span("setup.warmup"):
                for q in self.order[: len(QUERIES)]:
                    with self.tracer.span("gate"):
                        got = digest(self.reg[q].fn(self.spark, self.sf_dir))
                        oracle = self.reg[q].oracle
                        if oracle is None:
                            self.golden[q] = got
                            continue
                        from tools.check_oracle import frame_digest

                        want = frame_digest(con.execute(oracle).fetchdf())[:3]
                        if got != want:
                            self.bad.add(q)
                            self.failures.append(f"{q}: digest {got} != duckdb {want}")
        finally:
            con.close()

    def query(self, i):
        return self.order[i % len(self.order)]

    def op(self, i):
        q = self.query(i)
        with self.tracer.span("queries.build"):
            df = self.reg[q].fn(self.spark, self.sf_dir)
        if self.ctx.trace:
            with self.tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with self.tracer.span("sink"):
            df.write.format("noop").mode("overwrite").save()
        return q not in self.bad

    def failed_after_check(self, i):
        return self.query(i) in self.bad

    def check(self):
        for q, want in self.golden.items():
            got = digest(self.reg[q].fn(self.spark, self.sf_dir))
            if got != want:
                self.failures.append(f"{q}: digest {got} differs between runs ({want})")
                self.bad.add(q)


WORKLOADS = {w.name: w for w in (MedallionCdc, IndexMaintenance, CatalogAnalytics)}
