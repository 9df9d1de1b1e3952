"""The benchmark's workloads: seeded fixture, one op, and the op's check.

Each workload builds its inputs from the seed at set-up, runs one op per
call of ``op(i, tracer)`` and checks an op's output against the repo's own
oracle in ``check`` (never inside a timed region). Every timed output goes
through a sink that evaluates all of its columns: the catalog parquet write
(``kg_build``) or a driver collect of the result rows (``event_search``).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from spans import force_df, force_search_state

TRIPLE_COLS = ["subject", "predicate", "object"]


def drop_one(df):
    """Self-test corruption: the op's output minus its smallest triple."""
    return df.exceptAll(df.orderBy(*TRIPLE_COLS).limit(1))


class KgBuild:
    """Transcripts -> SEM triples -> catalog: Arrow ``mapInPandas``
    extraction and materialisation carry the work. The input keeps the
    generator's hub entity in ~30% of turns and ~10% duplicate rows, the
    properties the plan depends on, in shuffled order."""

    name = "kg_build"
    # ops keep speeding up for about eight ops after the cold one (measured
    # 9.6, 3.2, 2.6, 2.6, 2.1, 2.4, 2.2, 2.2, 2.0, 2.0, then 1.8-2.0 s at
    # 400 conversations): timing earlier ops measures the warm-up curve
    warmup_ops = 8

    def __init__(self, spark, work, seed, tiny=False, corrupt=False):
        self.spark, self.work, self.seed, self.corrupt = spark, work, seed, corrupt
        self.n_convs = 40 if tiny else 400
        self.tx_path = os.path.join(work, "transcripts")
        self._expected = None

    def setup(self):
        from chronographer_spark.data.transcripts import generate_transcripts_pdf
        from chronographer_spark.io.catalog import Catalog
        from chronographer_spark.schemas import TRANSCRIPT_SCHEMA

        self.pdf = generate_transcripts_pdf(n_convs=self.n_convs, n_turns=16, seed=self.seed)
        self.turns = len(self.pdf.drop_duplicates(["conv_id", "turn_idx"]))
        df = self.spark.createDataFrame(self.pdf, schema=TRANSCRIPT_SCHEMA)
        df.write.mode("overwrite").parquet(self.tx_path)
        self.catalog = Catalog(self.spark, os.path.join(self.work, "catalog"))

    def patches(self):
        import chronographer_spark.extraction.mentions as mentions
        import chronographer_spark.graph.materialize as materialize

        return [
            (mentions, "extract_mentions", "extraction", force_df, True),
            (materialize, "materialize_event_graph", "materialize", force_df, True),
        ]

    def op(self, i, tracer):
        from chronographer_spark.graph.materialize import build_event_graph

        table = f"triples_{i:03d}"
        graph = build_event_graph(self.spark.read.parquet(self.tx_path))
        if self.corrupt:
            graph = drop_one(graph)
        with tracer.span("catalog.write") as rec:
            self.catalog.write_triples(graph, table)
        path = self.catalog.path(table)
        rec["extra"] = {
            "files_written": sum(
                f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
            )
        }
        return table

    def items(self):
        return self.turns

    def expected(self, cache_dir):
        """The pandas oracle's triples, cached per seed and size: the oracle
        is per-row Python and costs more than the Spark op it checks."""
        if self._expected is None:
            from chronographer_spark.oracle.pandas_oracle import oracle_triples

            path = os.path.join(cache_dir, f"kg_build-oracle-{self.seed}-{self.n_convs}.parquet")
            if os.path.exists(path):
                exp = pd.read_parquet(path)
            else:
                exp = oracle_triples(self.pdf)
                os.makedirs(cache_dir, exist_ok=True)
                exp.to_parquet(path + ".tmp", index=False)
                os.replace(path + ".tmp", path)
            self._expected = _sorted_triples(exp)
        return self._expected

    def check(self, table, cache_dir) -> bool:
        # the files as written, read without Spark (pyarrow decodes the
        # escaped hive partition values of `predicate`)
        got = pd.read_parquet(self.catalog.path(table), columns=TRIPLE_COLS)
        return _sorted_triples(got).equals(self.expected(cache_dir))


class EventSearch:
    """Informed ``GraphSearch`` from a seeded customer on a TPC-H-shaped
    customer -> order -> lineitem KG (the ``event_search_2iter`` fixture of
    ``entry_queries.core``): a latency-bound driver loop of many small Spark
    jobs with parquet state checkpoints, the opposite of ``kg_build``'s few
    large jobs. One iteration per op: a 2-iteration op (20-38 s measured on
    4 cores) after a cold one does not fit the benchmark's run budget."""

    name = "event_search"
    warmup_ops = 1
    ITERATIONS = 1
    DATES = ("1995-01-01", "2002-12-31")

    def __init__(self, spark, work, seed, tiny=False, corrupt=False):
        self.spark, self.work, self.seed, self.corrupt = spark, work, seed, corrupt
        self.n_cust = 60 if tiny else 1500
        self.kg_path = os.path.join(work, "kg")

    def setup(self):
        self.customer, self.orders, self.lineitem = tpch_tables(self.n_cust, self.seed)
        sf = os.path.join(self.work, "tpch")
        os.makedirs(sf, exist_ok=True)
        for name, pdf in (("customer", self.customer), ("orders", self.orders),
                          ("lineitem", self.lineitem)):
            pdf.to_parquet(os.path.join(sf, f"{name}.parquet"), index=False)
        r = self.spark.read
        kg = search_kg(r.parquet(f"{sf}/customer.parquet"), r.parquet(f"{sf}/orders.parquet"),
                       r.parquet(f"{sf}/lineitem.parquet"))
        kg.write.mode("overwrite").parquet(self.kg_path)
        # seed customers: those with at least one order inside the window
        lo, hi = (dt.date.fromisoformat(d) for d in self.DATES)
        in_win = self.orders[(self.orders.o_orderdate >= lo) & (self.orders.o_orderdate <= hi)]
        eligible = np.sort(in_win.o_custkey.unique())
        rng = np.random.default_rng([self.seed, 1])
        self.starts = [int(c) for c in rng.permutation(eligible)]
        self.pred_range = self.spark.createDataFrame(
            [("ex:placed", ["ex:class/Order"]), ("ex:hasLine", ["ex:class/Line"])],
            "predicate string, classes array<string>",
        )
        self.superclasses = self.spark.createDataFrame(
            [("ex:class/Order", ["ex:class/Event"]), ("ex:class/Line", ["ex:class/Event"])],
            "class string, ancestors array<string>",
        )

    def patches(self):
        import chronographer_spark.search.driver as driver

        return [(driver, "rank_top1", "ranking", None, False)]

    def op(self, i, tracer):
        from chronographer_spark.operators.filtering import FilteringConfig
        from chronographer_spark.search.driver import GraphSearch, SearchConfig

        cust = self.starts[i % len(self.starts)]
        cfg = SearchConfig(
            start=f"http://ex/cust/{cust}",
            iterations=self.ITERATIONS,
            target_types=["ex:class/Event"],
            type_ranking="entropy_pred_object_freq",
            dates=self.DATES,
            max_uri=500,
        )
        filt = FilteringConfig(
            point_in_time=["ex:prop/date"], start_dates=[], end_dates=[],
            places=[], people=[], dataset_type="synthetic",
        )
        gs = GraphSearch(
            self.spark, self.spark.read.parquet(self.kg_path), cfg, filt,
            pred_domain=None, pred_range=self.pred_range, superclasses=self.superclasses,
            checkpoint_dir=os.path.join(self.work, "ckpt"), run_id=f"op{i:03d}",
        )
        gs.run_one_iteration = tracer.wrap(
            "search.iteration", gs.run_one_iteration, force_search_state
        )
        with tracer.span("search.checkpoint") as rec:
            gs.run()
        sub = gs.final_state()["subgraph"].select(*TRIPLE_COLS).dropDuplicates()
        if self.corrupt:
            sub = drop_one(sub)
        rows = [tuple(r) for r in sub.collect()]
        rec["extra"] = {"events_found": len({n for s, _, o in rows for n in (s, o)})}
        return cust, rows

    def items(self):
        return None

    def check(self, out, cache_dir) -> bool:
        import duckdb

        from chronographer_spark.entry_queries.core import EVENT_SEARCH_SQL

        cust, rows = out
        sql = EVENT_SEARCH_SQL.replace("o_custkey = 1\n", f"o_custkey = {cust}\n")
        sql = sql.replace("'http://ex/cust/1'", f"'http://ex/cust/{cust}'")
        if f"o_custkey = {cust}\n" not in sql or f"'http://ex/cust/{cust}'" not in sql:
            raise RuntimeError("EVENT_SEARCH_SQL no longer has the seed-customer literals")
        con = duckdb.connect()
        try:
            for name in ("customer", "orders", "lineitem"):
                con.register(name, getattr(self, name))
            expected = con.execute(sql).fetchall()
        finally:
            con.close()
        # the oracle replays two iterations; the first adds the placed edges
        expected = [r for r in expected if r[1] == "ex:placed"]
        return len(rows) == len(set(rows)) and set(rows) == set(expected)


def _sorted_triples(df: pd.DataFrame) -> pd.DataFrame:
    return df[TRIPLE_COLS].astype(str).sort_values(TRIPLE_COLS).reset_index(drop=True)


def tpch_tables(n_cust: int, seed: int):
    """TPC-H-shaped customer/orders/lineitem (only the columns the search
    KG reads): 10 orders per customer, none for every third customer,
    order dates 1992-01-01..1998-08-02, 1-7 lines per order."""
    rng = np.random.default_rng([seed, 0])
    custkey = np.arange(1, n_cust + 1)
    customer = pd.DataFrame({"c_custkey": custkey, "c_nationkey": rng.integers(0, 25, n_cust)})
    n_orders = 10 * n_cust
    buyers = custkey[custkey % 3 != 0]
    start = dt.date(1992, 1, 1)
    days = rng.integers(0, (dt.date(1998, 8, 2) - start).days + 1, n_orders)
    orders = pd.DataFrame({
        "o_orderkey": np.arange(1, n_orders + 1),
        "o_custkey": rng.choice(buyers, n_orders),
        "o_orderdate": [start + dt.timedelta(days=int(d)) for d in days],
    })
    n_lines = rng.integers(1, 8, n_orders)
    lineitem = pd.DataFrame({
        "l_orderkey": np.repeat(orders.o_orderkey.to_numpy(), n_lines),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in n_lines]),
    })
    return customer, orders, lineitem


def search_kg(cust, orders, li):
    """customer --placed--> order --hasLine--> lineitem, with rdf:type and
    date rows, exactly as ``entry_queries.core.q_event_search`` builds it."""
    order_uri = F.concat(F.lit("http://ex/order/"), F.col("o_orderkey").cast("string"))
    rdf_type = F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
    line_uri = F.concat(
        F.lit("http://ex/line/"), F.col("l_orderkey").cast("string"),
        F.lit("-"), F.col("l_linenumber").cast("string"),
    )
    parts = [
        orders.select(
            F.concat(F.lit("http://ex/cust/"), F.col("o_custkey").cast("string")),
            F.lit("ex:placed"), order_uri),
        orders.select(order_uri, rdf_type, F.lit("ex:class/Order")),
        orders.select(order_uri, F.lit("ex:prop/date"), F.date_format("o_orderdate", "yyyy-MM-dd")),
        cust.select(
            F.concat(F.lit("http://ex/cust/"), F.col("c_custkey").cast("string")),
            F.lit("ex:inNation"),
            F.concat(F.lit("http://ex/nation/"), F.col("c_nationkey").cast("string"))),
        li.select(
            F.concat(F.lit("http://ex/order/"), F.col("l_orderkey").cast("string")),
            F.lit("ex:hasLine"), line_uri),
        li.select(line_uri, rdf_type, F.lit("ex:class/Line")),
    ]
    kg = parts[0].toDF(*TRIPLE_COLS)
    for p in parts[1:]:
        kg = kg.unionByName(p.toDF(*TRIPLE_COLS))
    return kg


WORKLOADS = {w.name: w for w in (KgBuild, EventSearch)}
