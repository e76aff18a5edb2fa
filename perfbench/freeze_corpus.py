"""Re-freeze ``corpus.json``: the ``sql_interactive`` statements and the
expected digests that every run checks against.

  python3 perfbench/freeze_corpus.py [sf ...]     (default: 0.01 0.001)

The statements are recorded by wrapping ``translate_clickhouse_sql`` while
the ``dialect_*`` registry entries are constructed (the recording
technique of ``scripts/dialect_equiv.py record``).  Each statement then
runs twice through ``api.query`` (page 1, 100 rows); its page digest must
agree across the two runs.  Statements fall into four cost strata by
their second-run latency at the first scale
(``workloads.SqlInteractive.measured`` picks the measured ones from
them).  The ``curation`` digests cover the full outputs of
the ``curation_batch`` registry entries.
Freeze only at a commit whose outputs are known to be right.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402

DATA_SEED = 42


def freeze(scales: list[float]) -> dict:
    sys.path.insert(0, bench.ROOT)
    import workloads
    from clickhouse_flatfile_tool_spark import api, dialect

    import __spark_entry__ as entrymod
    import datagen

    base = os.path.join(bench.ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="freeze-", dir=base)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = bench._driver_memory()
    try:
        spark = bench._start_spark(work, trace=False)
        registry = entrymod.queries()
        entries = [n for n in registry if n.startswith("dialect_")]
        statements: list[dict] = []
        curation: dict[str, dict] = {n: {} for n in workloads.CURATION_ENTRIES}
        for k, sf in enumerate(scales):
            data = datagen.write_tables(os.path.join(work, f"sf{sf}"), sf, DATA_SEED)
            recorded: list[tuple[str, str]] = []
            real = dialect.translate_clickhouse_sql
            current = [""]

            def recorder(sql, spark=None):
                recorded.append((current[0], sql))
                return real(sql, spark)

            dialect.translate_clickhouse_sql = recorder
            try:
                for name in entries:
                    current[0] = name
                    registry[name](spark, data)
            finally:
                dialect.translate_clickhouse_sql = real
            if k == 0:
                statements = [{"entry": e, "sql": s, "digest": {}} for e, s in recorded]
            elif [(s["entry"], s["sql"]) for s in statements] != recorded:
                raise SystemExit(f"sf{sf}: the entries sent different statements")
            lat = []
            for s in statements:
                digests = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    res = api.query(spark, s["sql"], page=1, page_size=workloads.PAGE_SIZE)
                    lat_s = time.perf_counter() - t0
                    if not res.get("success"):
                        raise SystemExit(f"{s['entry']}: {res.get('error')}")
                    digests.append(workloads.digest(res["data"]))
                if digests[0] != digests[1]:
                    raise SystemExit(f"{s['entry']}: page 1 is not deterministic")
                s["digest"][str(sf)] = digests[0]
                lat.append(lat_s)
            if k == 0:
                order = sorted(range(len(lat)), key=lat.__getitem__)
                for rank, i in enumerate(order):
                    statements[i]["stratum"] = rank * 4 // len(order)
            for name in workloads.CURATION_ENTRIES:
                outs = {workloads.digest(registry[name](spark, data).collect()) for _ in range(2)}
                if len(outs) != 1:
                    raise SystemExit(f"{name}: output is not deterministic")
                curation[name][str(sf)] = outs.pop()
            print(f"sf{sf}: {len(statements)} statements, "
                  f"{sum(lat):.1f}s per pass", file=sys.stderr)
        return {
            "data_seed": DATA_SEED,
            "entries": entries,
            "statements": statements,
            "curation": curation,
        }
    finally:
        bench._stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


def main() -> int:
    scales = [float(x) for x in sys.argv[1:]] or [0.01, 0.001]
    corpus = freeze(scales)
    with open(os.path.join(HERE, "corpus.json"), "w") as f:
        json.dump(corpus, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
