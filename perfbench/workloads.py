"""The three closed-loop workloads: one client, one request at a time.

Each workload has a ``setup`` (untimed by the loop, timed as
``setup_s``) and a ``cycle`` that issues requests through ``Run.op``.
``Run.op`` times the request, checks its output and records the result;
a failed check is a failed operation and is never dropped.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math
import os
import time
from dataclasses import dataclass

import numpy as np

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "corpus.json")
PAGE_SIZE = 100
PREVIEWS = 2
FUNNEL_STAGES = ["input", "gopher", "c4", "exact", "neardup", "exactsubstr",
                 "decontaminate"]
CURATION_ENTRIES = ("gopher_rules", "minhash_dedup", "mutual_nn")


# -- digests -----------------------------------------------------------------
def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (_dt.date, _dt.datetime, decimal.Decimal)):
        return str(v)
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items(), key=str)}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if hasattr(v, "asDict"):
        return _canon(v.asDict(recursive=True))
    return v


def digest(rows) -> str:
    """Order-insensitive digest of a list of rows (Row, dict or tuple)."""
    canon = sorted(
        json.dumps(_canon(r if not hasattr(r, "asDict") else list(r)), sort_keys=True)
        for r in rows
    )
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


def load_corpus() -> dict:
    with open(CORPUS) as f:
        return json.load(f)


# -- run bookkeeping -----------------------------------------------------------
@dataclass
class Op:
    kind: str  # request type: statement, ingest, preview, a curation step ...
    label: str  # the distinct request: the statement's entry, or the kind
    lat_s: float
    ok: bool
    measured: bool  # issued by the timed loop, not by set-up
    traced: bool
    rows: int


class Run:
    """One run's session, seeded generator and request log."""

    def __init__(self, spark, work: str, seed: int, tracer=None, corrupt: bool = False):
        self.spark = spark
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer
        self.corrupt = corrupt  # expect a wrong digest (smoke test)
        self.measuring = False
        self.ops: list[Op] = []
        self.errors: list[str] = []
        self.marks: dict[str, float] = {}
        self._t_mark = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record the time since the previous mark under ``phase``."""
        now = time.perf_counter()
        self.marks[phase] = now - self._t_mark
        self._t_mark = now

    def op(self, kind: str, fn, check, label: str = "") -> None:
        """Time ``fn()`` and check its result; ``check`` returns
        ``(ok, rows)``.  A request that raises is a failed request."""
        traced = bool(self.tracer and self.tracer.enabled)
        sc = self.spark.sparkContext
        if traced:  # the event log charges this request's jobs to its kind
            sc.setLocalProperty("perfbench.request", kind)
        ok, rows = False, 0
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception as e:  # noqa: BLE001 — counted and reported below
            lat = time.perf_counter() - t0
            self.errors.append(f"{kind}: {type(e).__name__}: {e}")
        else:
            lat = time.perf_counter() - t0
            try:
                ok, rows = check(res)
            except Exception as e:  # noqa: BLE001 — a malformed result
                self.errors.append(f"{kind}: check raised {type(e).__name__}: {e}")
            else:
                if not ok:
                    self.errors.append(f"{kind}: wrong output: {str(res)[:300]}")
        if traced:
            sc.setLocalProperty("perfbench.request", None)
        self.ops.append(Op(kind, label or kind, lat, ok, self.measuring, traced, rows))


def _api_ok(res) -> bool:
    return isinstance(res, dict) and res.get("success") is True


# -- sql_interactive ------------------------------------------------------------
class SqlInteractive:
    """Frozen ClickHouse-dialect statements sent through ``api.query``,
    page 1 of 100 rows.  A cycle is one pass, in seeded order, over the
    measured statements: the two median-length statements of each cost
    quartile (``stratum``) of the corpus.  Set-up constructs the
    statements' registry entries (which registers the temp views they
    name) and runs one untimed, checked pass."""

    name = "sql_interactive"
    PER_STRATUM = 2

    @classmethod
    def measured(cls, statements: list[dict]) -> list[dict]:
        chosen = []
        for k in sorted({s["stratum"] for s in statements}):
            by_len = sorted((s for s in statements if s["stratum"] == k),
                            key=lambda s: len(s["sql"]))
            mid = (len(by_len) - cls.PER_STRATUM) // 2
            chosen += by_len[mid : mid + cls.PER_STRATUM]
        return chosen

    def setup(self, run: Run, sf: float) -> None:
        import __spark_entry__ as entrymod

        corpus = load_corpus()
        self.statements = self.measured(corpus["statements"])
        data = datagen.write_tables(
            os.path.join(run.work, "data"), sf, corpus["data_seed"]
        )
        run.mark("setup.inputs_s")
        registry = entrymod.queries()
        for name in dict.fromkeys(s["entry"] for s in self.statements):
            registry[name](run.spark, data)
        run.mark("setup.entries_s")
        self.expected = [s["digest"][str(sf)] for s in self.statements]
        if run.corrupt:
            self.expected[0] = "0" * 16
        self.cycle(run)

    def cycle(self, run: Run) -> None:
        from clickhouse_flatfile_tool_spark import api

        for i in run.rng.permutation(len(self.statements)):
            sql = self.statements[i]["sql"]

            def check(res, i=i):
                rows = res.get("data") or []
                return _api_ok(res) and digest(rows) == self.expected[i], len(rows)

            run.op(
                "statement",
                lambda sql=sql: api.query(run.spark, sql, page=1, page_size=PAGE_SIZE),
                check,
                f"{self.statements[i]['entry']}.{i}",
            )


# -- curation_batch ---------------------------------------------------------------
class CurationBatch:
    """Single curation steps, one at a time, as a corpus builder runs them:
    Gopher quality gates (``text``), MinHash near-dedup (``dedup``) and
    mutual-NN pair mining (``similarity``, with its driver-side top-k
    collect).  Each is a registry entry over the fixed documents and
    embeddings, checked against its frozen digest; a cycle runs all three
    in seeded order.  Set-up runs two untimed, checked cycles.

    A traced run also runs one whole ``funnel`` (the composed curation
    pipeline, held-out residue chosen by the seed) so the ``pipeline``
    layer is measured.  Untraced runs leave it out: one funnel takes
    10-30 s on a 4-vCPU VM and varies by a third between runs."""

    name = "curation_batch"

    def setup(self, run: Run, sf: float) -> None:
        import __spark_entry__ as entrymod

        corpus = load_corpus()
        self.data = datagen.write_tables(
            os.path.join(run.work, "data"), sf, corpus["data_seed"]
        )
        registry = entrymod.queries()
        self.steps = {n: registry[n] for n in CURATION_ENTRIES}
        self.expected = {n: corpus["curation"][n][str(sf)] for n in CURATION_ENTRIES}
        if run.corrupt:
            self.expected["mutual_nn"] = "0" * 16
        run.mark("setup.inputs_s")
        for _ in range(2):  # one warm-up cycle left these steps 30% slow
            self.cycle(run)

    def cycle(self, run: Run) -> None:
        for name in run.rng.permutation(CURATION_ENTRIES):
            name = str(name)
            run.op(
                name,
                lambda name=name: self.steps[name](run.spark, self.data).collect(),
                lambda rows, name=name: (digest(rows) == self.expected[name], len(rows)),
            )

    def traced_extra(self, run: Run) -> None:
        from pyspark.sql import functions as F

        from clickhouse_flatfile_tool_spark.operators.pipeline import curation_pipeline
        from clickhouse_flatfile_tool_spark.sources.files import read_parquet

        r = int(run.rng.integers(0, 20))
        docs = read_parquet(run.spark, os.path.join(self.data, "documents.parquet"))
        n_train = docs.filter(F.col("doc_id") % 20 != r).count()

        def job():
            # the _pipeline_e2e_inputs split, with the held-out residue r
            train = docs.filter(F.col("doc_id") % 20 != r).select(
                "doc_id",
                F.expr(
                    r"regexp_replace(text, '(\\S+ \\S+ \\S+ \\S+ \\S+ \\S+) ', '$1.\n')"
                ).alias("text"),
            )
            bench = docs.filter(F.col("doc_id") % 20 == r)
            _final, provenance = curation_pipeline(train, bench)
            return sorted(provenance.collect(), key=lambda row: row.stage_idx)

        def check(rows):
            ok = [row.stage for row in rows] == FUNNEL_STAGES and rows[0].docs == n_train
            for prev, cur in zip(rows, rows[1:]):
                ok = ok and 0 <= cur.docs <= prev.docs
                ok = ok and cur.dropped == prev.docs - cur.docs
            return ok, len(rows)

        run.op("funnel", job, check)


# -- flatfile_etl -------------------------------------------------------------------
class FlatfileEtl:
    """The reference's own surface: CSV file -> fresh table (ingest), two
    preview pages, one paged join with ``orders``, one CSV download; the
    table is dropped at the end of each cycle.  The CSV's row order and
    column subset come from the seed; the subset takes one column from
    each group of look-alike columns, so every seed moves the same number
    of bytes.  The column order is fixed: preview sorts by every column in
    table order, so a seeded order would change its cost from seed to
    seed.  Ingest keeps the columns as text, so every preview page, join
    page and the download are compared with the rows the CSV was written
    from.  Set-up runs two untimed, checked cycles."""

    name = "flatfile_etl"
    KEEP = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
            "l_shipdate"]
    JOIN_KEYS = ["l_orderkey", "l_linenumber"]
    GROUPS = [("l_partkey", "l_suppkey"), ("l_discount", "l_tax"),
              ("l_returnflag", "l_linestatus")]

    def setup(self, run: Run, sf: float) -> None:
        import pyarrow as pa
        import pyarrow.csv as pacsv
        import pyarrow.parquet as pq

        from clickhouse_flatfile_tool_spark.sources.files import read_parquet

        lineitem, orders = datagen.lineitem_table(sf, load_corpus()["data_seed"])
        cols = self.KEEP + [str(run.rng.choice(g)) for g in self.GROUPS]
        table = lineitem.select(cols).take(run.rng.permutation(lineitem.num_rows))
        table = pa.table({c: table[c].cast(pa.string()) for c in cols})
        self.csv = os.path.join(run.work, "lineitem.csv")
        pacsv.write_csv(table, self.csv, pacsv.WriteOptions(quoting_style="none"))
        self.cols, self.n_rows = cols, table.num_rows
        # ingest keeps every column as text, so each page and the download
        # must hold exactly these strings; preview orders by all columns
        self.want = table.sort_by([(c, "ascending") for c in cols])
        self.want_keys = table.sort_by(
            [(k, "ascending") for k in self.JOIN_KEYS]
        ).select(self.JOIN_KEYS)
        self.pages = math.ceil(self.n_rows / PAGE_SIZE)
        orders_path = os.path.join(run.work, "orders.parquet")
        pq.write_table(orders, orders_path)
        read_parquet(run.spark, orders_path).createOrReplaceTempView("orders")
        self.n_cycles = 0
        run.mark("setup.inputs_s")
        for _ in range(2):  # after one, ingest and join were still 30% slow
            self.cycle(run)

    def cycle(self, run: Run) -> None:
        from clickhouse_flatfile_tool_spark import api
        from clickhouse_flatfile_tool_spark.operators import relational

        spark, n = run.spark, self.n_rows
        table = f"etl_{self.n_cycles}"
        self.n_cycles += 1
        run.op(
            "ingest",
            lambda: api.ingest(spark, "file", self.csv, table),
            lambda res: (_api_ok(res) and res["count"] == n, n),
        )
        for page in run.rng.integers(1, self.pages + 1, PREVIEWS):
            page = int(page)

            def check_preview(res, page=page):
                want = self.want.slice((page - 1) * PAGE_SIZE, PAGE_SIZE).to_pylist()
                ok = _api_ok(res) and res["pagination"]["total"] == n
                return ok and res["data"] == want, len(res["data"])

            run.op(
                "preview",
                lambda page=page: api.preview(
                    spark, "clickhouse", table, page=page, page_size=PAGE_SIZE
                ),
                check_preview,
            )
        jpage = int(run.rng.integers(1, self.pages + 1))
        keys = self.JOIN_KEYS

        def join():
            joined = api.execute_join(
                spark, [table, "orders"], ["l_orderkey = o_orderkey"],
                selected_columns=keys + ["o_orderkey", "o_orderdate"],
            )
            return relational.page_slice(joined, keys, jpage, PAGE_SIZE).collect()

        def check_join(rows):
            # every line item has its order, so the page is the key page
            want = self.want_keys.slice((jpage - 1) * PAGE_SIZE, PAGE_SIZE)
            ok = [(r.l_orderkey, r.l_linenumber) for r in rows] == list(
                zip(*want.to_pydict().values())
            )
            ok = ok and all(int(r.l_orderkey) == r.o_orderkey for r in rows)
            return ok, len(rows)

        run.op("join", join, check_join)
        out = os.path.join(run.work, f"{table}.csv")

        def check_download(res):
            import pyarrow as pa
            import pyarrow.csv as pacsv

            got = pacsv.read_csv(out, convert_options=pacsv.ConvertOptions(
                column_types={c: pa.string() for c in self.cols},
                strings_can_be_null=False,
            ))
            os.remove(out)
            got = got.select(self.cols).sort_by([(c, "ascending") for c in self.cols])
            return _api_ok(res) and got.equals(self.want), got.num_rows

        run.op("download", lambda: api.download(spark, table, out), check_download)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


WORKLOADS = {w.name: w for w in (SqlInteractive, CurationBatch, FlatfileEtl)}
