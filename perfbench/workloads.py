"""The benchmark's workloads: what one op is, how its output is
checked, and how the traced run wraps the engine's layers.

Each workload runs one engine entry point per op:

- ``etl_batch``: ``pipeline.run_pipeline`` over a generated
  lineitem table (scan, validation, cleaning, enrichment, cached
  aggregate fan-out, parquet and CSV sinks).
- ``doc_dedup``: ``pipeline_documents.run_document_pipeline`` over
  generated documents (text scoring, exact and MinHash dedup, pins).
- ``report_queries``: one registry query per op over a generated star
  schema, forced with the ``noop`` sink.

Expected values come from DuckDB over the generated inputs and from
the generator's planted counts, never from the engine itself.
"""

from __future__ import annotations

import os
import re

import duckdb
import numpy as np
import pandas as pd

from gen import gen_docs, gen_etl, gen_star
from spans import Tracer, dir_bytes, patch

# Report queries run per round: TPC-H, reference-parity aggregates,
# joins and windows. Every one has a DuckDB oracle in the registry.
REPORT_QUERIES = (
    "volume_shipping_q7", "market_share_q8", "customer_distribution_q13",
    "top_supplier_q15", "small_quantity_revenue_q17",
    "large_volume_customers_q18", "inactive_wealth_q22",
    "vendor_stats", "category_stats", "payment_stats", "summary_rollup",
    "two_key_agg_sql", "topk_orders", "rollup_flag_status",
    "cube_flag_status",
    "join_mktsegment_revenue", "top_revenue_orders", "suppliers_by_region",
    "top_customers_per_nation", "running_revenue_per_supplier",
    "customer_7d_revenue", "nation_revenue_share", "promo_revenue_share",
    "local_supplier_volume", "retention_cohorts", "user_sessions",
    "events_hourly",
)

STAR_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events")


class OpError(Exception):
    """An op's output failed its check."""


def _duck(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    scale = 0.1

    def __init__(self, data_dir: str, work_dir: str, seed: int) -> None:
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.props: dict = {}

    def generate(self, scale: float | None = None) -> dict:
        raise NotImplementedError

    def prepare(self) -> None:
        """Expected values, computed once from the inputs (untimed)."""

    def op(self, spark, i: int) -> int:
        """Run op ``i``; return input rows it processed. Raises on a
        failed output check."""
        raise NotImplementedError

    def check(self, spark) -> None:
        """Deeper output check after the warm-up op (untimed)."""

    def traced_op(self, spark, tracer: Tracer, i: int) -> int:
        raise NotImplementedError

    def layer_metrics(self, spans_by_op: list) -> dict:
        """Workload-specific per-layer numbers from the traced ops."""
        return {}


# ---------------------------------------------------------------------------


class EtlBatch(Workload):
    name = "etl_batch"
    scale = 0.05  # ~150K lineitem rows

    def generate(self, scale=None):
        self.props = gen_etl(self.seed, self.data_dir, scale or self.scale)
        return self.props

    def prepare(self) -> None:
        from big_data_processing_spark.plans.parity_queries import CLEAN_WHERE

        con = _duck(self.data_dir, ["lineitem"])
        row = con.execute(f"""
            SELECT count(*),
                   count(*) FILTER (WHERE l_extendedprice > 100000),
                   count(*) FILTER (WHERE l_quantity >= 50),
                   count(*) FILTER (WHERE l_discount > 0.08)
            FROM lineitem""").fetchone()
        dups = row[0] - con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT * FROM lineitem)").fetchone()[0]
        lo, hi = con.execute(f"""
            SELECT q[1] - 1.5 * (q[2] - q[1]), q[2] + 1.5 * (q[2] - q[1]) FROM (
              SELECT quantile_cont(l_extendedprice, [0.25, 0.75]) AS q
              FROM lineitem WHERE {CLEAN_WHERE})""").fetchone()
        clean = con.execute(f"""
            SELECT count(*) FROM lineitem WHERE {CLEAN_WHERE}
              AND l_extendedprice BETWEEN {lo} AND {hi}""").fetchone()[0]
        self.expect = {
            "total_rows": row[0], "invalid_price": row[1],
            "invalid_qty": row[2], "invalid_discount": row[3],
            "duplicate_count": dups,
        }
        self.iqr_clean = clean
        self.fence_hi = hi

    @property
    def out_dir(self) -> str:
        return os.path.join(self.work_dir, "etl_out")

    def _check_result(self, res) -> None:
        got = {k: int(res.quality[k]) for k in self.expect}
        if got != self.expect:
            raise OpError(f"quality metrics {got} != {self.expect}")
        # percentile_approx fences: allow the rows between the approx
        # and the exact fence, a tiny share for this tight bulk
        if abs(res.clean_rows - self.iqr_clean) > max(5, res.raw_rows // 1000):
            raise OpError(f"clean rows {res.clean_rows} vs exact-IQR {self.iqr_clean}")

    def op(self, spark, i):
        from big_data_processing_spark.pipeline import run_pipeline

        res = run_pipeline(spark, self.data_dir, self.out_dir)
        self._check_result(res)
        self.last = res
        return res.raw_rows

    def check(self, spark) -> None:
        res = self.last
        out = self.out_dir
        con = duckdb.connect()
        con.execute(f"CREATE VIEW p AS SELECT * FROM read_parquet('{out}/processed/*.parquet')")
        n, bad, top = con.execute("""
            SELECT count(*),
                   count(*) FILTER (WHERE NOT (l_extendedprice > 0 AND l_extendedprice < 100000
                       AND l_quantity > 0 AND l_quantity < 50
                       AND l_discount >= 0 AND l_discount <= 0.08)),
                   max(l_extendedprice) FROM p""").fetchone()
        if n != res.clean_rows or bad or top > self.fence_hi * 1.01:
            raise OpError(f"processed: {n} rows, {bad} out of range, max price {top}")
        want = con.execute("""
            SELECT l_returnflag, count(*), sum(l_extendedprice), avg(l_quantity)
            FROM p GROUP BY 1 ORDER BY 1""").fetchall()
        got = con.execute(f"""
            SELECT l_returnflag, total_trips, total_revenue, avg_quantity
            FROM read_parquet('{out}/vendor_stats/*.parquet') ORDER BY 1""").fetchall()
        for w, g in zip(want, got):
            if w[:2] != g[:2] or not np.allclose(w[2:], g[2:], rtol=1e-9):
                raise OpError(f"vendor_stats {g} != {w}")
        if len(want) != len(got):
            raise OpError("vendor_stats group count")
        for name in ("category_stats", "payment_stats"):
            cnt = con.execute(
                f"SELECT sum(total_trips) FROM read_parquet('{out}/{name}/*.parquet')"
            ).fetchone()[0]
            if cnt != n:
                raise OpError(f"{name} counts {cnt} rows, processed has {n}")
        summary = pd.read_csv(
            next(os.path.join(out, "summary", f) for f in sorted(os.listdir(f"{out}/summary"))
                 if f.endswith(".csv"))
        )
        if int(summary["total_total_trips"][0]) != n:
            raise OpError("summary total_trips")
        self.write_amp = dir_bytes(out) / self.props["lineitem"]["bytes"]

    def traced_op(self, spark, tracer, i):
        import big_data_processing_spark.operators.cleaning as cleaning
        import big_data_processing_spark.pipeline as pipeline

        with patch(pipeline, "load_table", lambda f: tracer.frame_call("sources.scan", f)), \
             patch(pipeline, "validate_schema", lambda f: tracer.plain_call("validation.validate_schema", f)), \
             patch(pipeline, "quality_metrics", lambda f: tracer.frame_call("validation.quality_metrics", f)), \
             patch(pipeline, "clean", tracer.plan_call), \
             patch(pipeline, "iqr_filter", lambda f: self._iqr_wrapper(tracer, f)), \
             patch(cleaning, "iqr_bounds", lambda f: tracer.plain_call("operators.cleaning.iqr_bounds", f)), \
             patch(pipeline, "enrich", tracer.plan_call), \
             patch(pipeline, "write_parquet", lambda f: tracer.sink_call("pipeline.agg_fanout", f)), \
             patch(pipeline, "write_csv", lambda f: tracer.sink_call("pipeline.agg_fanout", f)):
            with tracer.span("pipeline.run_pipeline"):
                res = pipeline.run_pipeline(spark, self.data_dir, self.out_dir)
        self._check_result(res)
        return res.raw_rows

    @staticmethod
    def _iqr_wrapper(tracer, fn):
        def wrapped(df, *args, **kwargs):
            rows_in = df.count()
            with tracer.span("operators.cleaning.iqr_filter") as sp:
                out, rows_out = tracer.force(fn(df, *args, **kwargs))
                sp.attrs["kept_ratio"] = rows_out / max(rows_in, 1)
            return out

        return wrapped

    def layer_metrics(self, spans_by_op) -> dict:
        ratios = [s.attrs["kept_ratio"] for op in spans_by_op for s in op
                  if "kept_ratio" in s.attrs]
        cached = [max((s.attrs["cached_bytes"] for s in op if s.name == "pipeline.agg_fanout"), default=0)
                  for op in spans_by_op]
        return {
            "operators.cleaning.kept_ratio": float(np.median(ratios)) if ratios else 0.0,
            "pipeline.cached_bytes": float(np.median(cached)) if cached else 0.0,
            "sources.write_amp": getattr(self, "write_amp", 0.0),
        }


# ---------------------------------------------------------------------------


class DocDedup(Workload):
    name = "doc_dedup"
    scale = 0.05  # 500 documents

    def generate(self, scale=None):
        self.props = gen_docs(self.seed, self.data_dir, scale or self.scale)
        return self.props

    def prepare(self) -> None:
        d = self.props["documents"]
        self.expect = {
            "raw_docs": d["rows"],
            "after_quality": d["rows"],
            "after_lang": d["kept_lang_docs"],
            "after_exact_dedup": d["kept_lang_docs"] - d["exact_dups_kept_lang"],
        }
        self.planted = d["near_dups_kept_lang"]

    @property
    def out_dir(self) -> str:
        return os.path.join(self.work_dir, "doc_out")

    def _check_result(self, res) -> None:
        got = {k: getattr(res, k) for k in self.expect}
        if got != self.expect:
            raise OpError(f"stage counts {got} != {self.expect}")
        removed = res.after_exact_dedup - res.after_near_dedup
        if removed > self.planted:
            raise OpError(f"near-dedup removed {removed} docs, only {self.planted} planted")
        self.recall = removed / self.planted if self.planted else 1.0
        if self.recall < 0.9:
            raise OpError(f"near-dup recall {self.recall:.4f} < 0.9")
        if not 0 < res.sampled <= res.after_near_dedup:
            raise OpError(f"sampled {res.sampled} of {res.after_near_dedup}")

    def op(self, spark, i):
        from big_data_processing_spark.pipeline_documents import run_document_pipeline

        res = run_document_pipeline(spark, self.data_dir, self.out_dir)
        self._check_result(res)
        return res.raw_docs

    def check(self, spark) -> None:
        self.write_amp = dir_bytes(self.out_dir) / self.props["documents"]["bytes"]

    def traced_op(self, spark, tracer, i):
        import big_data_processing_spark.partitioning as partitioning
        import big_data_processing_spark.pipeline_documents as pd_mod
        from pyspark.sql import functions as F

        from big_data_processing_spark.functions.text import lang_id, quality_score, token_count

        def scan_and_score(load):
            def wrapped(*args, **kwargs):
                docs = tracer.frame_call("sources.scan", load)(*args, **kwargs)
                # the pipeline's scoring columns, timed as one direct
                # call into functions.text over the scanned documents
                with tracer.span("functions.text.score"):
                    t = F.col("text")
                    _noop(docs.select(token_count(t), quality_score(t), lang_id(t)))
                return docs

            return wrapped

        with patch(pd_mod, "load_table", scan_and_score), \
             patch(pd_mod, "dedup_by_fingerprint", lambda f: tracer.frame_call("functions.dedup.exact", f)), \
             patch(pd_mod, "minhash_near_duplicates", lambda f: tracer.frame_call("functions.dedup.minhash", f)), \
             patch(partitioning, "pin_now", lambda f: tracer.pin_call("partitioning.pin_now", f)), \
             patch(pd_mod, "write_parquet", lambda f: tracer.sink_call("pipeline_documents.sample", f)):
            with tracer.span("pipeline_documents.run_document_pipeline"):
                res = pd_mod.run_document_pipeline(spark, self.data_dir, self.out_dir)
        self._check_result(res)
        return res.raw_docs

    def layer_metrics(self, spans_by_op) -> dict:
        pairs = [s.attrs.get("rows_out", 0) for op in spans_by_op for s in op
                 if s.name == "functions.dedup.minhash"]
        return {
            "functions.dedup.pairs_out": float(np.median(pairs)) if pairs else 0.0,
            "functions.dedup.near_dup_recall": getattr(self, "recall", 0.0),
            "sources.write_amp": getattr(self, "write_amp", 0.0),
        }


# ---------------------------------------------------------------------------


def _normalize(df: pd.DataFrame) -> list[tuple]:
    """Order-insensitive value form of a result (columns by name,
    values by repr, rows sorted) — exact, as the registry's oracle
    contract requires."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if isinstance(v, (list, tuple, np.ndarray)) else v)
    return sorted(tuple(repr(v) for v in row) for row in df.itertuples(index=False))


class ReportQueries(Workload):
    name = "report_queries"
    scale = 0.1  # sf0.01 star schema

    def generate(self, scale=None):
        self.props = gen_star(self.seed, self.data_dir, scale or self.scale)
        return self.props

    def prepare(self) -> None:
        from big_data_processing_spark.plans.registry import SPECS

        self.specs = {q: SPECS[q] for q in REPORT_QUERIES}
        # input rows of a query: rows of every table its oracle reads
        self.rows = {}
        for q, spec in self.specs.items():
            tables = set(re.findall(r"\b(%s)\b" % "|".join(STAR_TABLES), spec.oracle))
            self.rows[q] = sum(self.props[t]["rows"] for t in tables)
        rng = np.random.default_rng(self.seed)
        self.order: list[str] = []
        for _ in range(64):
            self.order += [REPORT_QUERIES[j] for j in rng.permutation(len(REPORT_QUERIES))]

    def query(self, i: int) -> str:
        return self.order[i % len(self.order)]

    def op(self, spark, i):
        q = self.query(i)
        _noop(self.specs[q].fn(spark, self.data_dir))
        return self.rows[q]

    def check(self, spark) -> None:
        con = _duck(self.data_dir, STAR_TABLES)
        bad = []
        for q, spec in self.specs.items():
            got = _normalize(spec.fn(spark, self.data_dir).toPandas())
            want = _normalize(con.execute(spec.oracle).fetchdf())
            if got != want:
                bad.append(q)
        if bad:
            raise OpError(f"oracle mismatch: {bad}")

    def traced_op(self, spark, tracer, i):
        from big_data_processing_spark.plans import (
            analytic_queries, extension_queries, parity_queries, tpch_queries,
        )

        q = self.query(i)
        mods = (analytic_queries, extension_queries, parity_queries, tpch_queries)
        with patch(mods[0], "load_table", lambda f: tracer.plain_call("sources.scan", f)), \
             patch(mods[1], "load_table", lambda f: tracer.plain_call("sources.scan", f)), \
             patch(mods[2], "load_table", lambda f: tracer.plain_call("sources.scan", f)), \
             patch(mods[3], "load_table", lambda f: tracer.plain_call("sources.scan", f)):
            with tracer.span("plans.build", query=q):
                df = self.specs[q].fn(spark, self.data_dir)
        with tracer.span("plans.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("plans.exec"):
            _noop(df)
        return self.rows[q]


WORKLOADS = {w.name: w for w in (EtlBatch, DocDedup, ReportQueries)}
