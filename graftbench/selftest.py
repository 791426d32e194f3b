#!/usr/bin/env python3
"""The benchmark's own self-test.

    python3 graftbench/selftest.py

Checks, in order:
1. the generators are seeded: the same seed gives byte-identical
   tables and parquet files, another seed gives different ones, and
   replica ids never collide;
2. the counting sensor/embedder wrappers reproduce the pipeline's
   call counts on ``bronze_fixture``: 12 sensor rows for 6 new products
   (the frame is tagged once per sink that needs it) and 6 embedder rows;
3. the known incremental-ingest defect is still there: a batch with new
   products against an existing tracking store fails in the metadata
   JSON sink (when this check fails, the defect is fixed and the ingest
   workload can time the JSON sink again);
4. the two-step ``dedup_clusters`` oracle digest equals the SQL oracle's;
5. span self times add up to the traced wall time, and spans see their jobs.
Exits 1 if any check fails.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from graftbench import gen  # noqa: E402
from graftbench.run import WORK, stop_spark, configure_env  # noqa: E402

RESULTS: list[tuple[str, bool, str]] = []


def check(name: str, ok: bool, detail: str = "") -> None:
    RESULTS.append((name, ok, detail))
    print(f"{'PASS' if ok else 'FAIL'} {name}{': ' + detail if detail else ''}", flush=True)


def _file_bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def generators(tmp: str) -> None:
    a, b, c = (gen.star_tables(s, 0.01) for s in (7, 7, 8))
    check("star_tables same seed → same bytes", gen.digest_tables(a) == gen.digest_tables(b))
    check("star_tables other seed → other bytes", gen.digest_tables(a) != gen.digest_tables(c))
    gen.write_tables(a, os.path.join(tmp, "a"))
    gen.write_tables(b, os.path.join(tmp, "b"))
    same = all(_file_bytes(os.path.join(tmp, "a", f"{t}.parquet"))
               == _file_bytes(os.path.join(tmp, "b", f"{t}.parquet")) for t in gen.TABLES)
    check("star_tables parquet files byte-identical", same)

    spec = gen.CorpusSpec(200, 80, 3, 0.05, 0.25, 0.05)
    r1, r2, r3 = (gen.replicate_corpus(s, spec) for s in (7, 7, 8))
    check("replicate_corpus same seed → same bytes", gen.digest_tables(r1) == gen.digest_tables(r2))
    check("replicate_corpus other seed → other bytes", gen.digest_tables(r1) != gen.digest_tables(r3))
    doc_ids = r1["documents"]["doc_id"].to_pylist()
    vec_ids = r1["embeddings"]["vec_id"].to_pylist()
    check("replica ids unique (shift = max(id) + 1)",
          len(set(doc_ids)) == len(doc_ids) == 600 and len(set(vec_ids)) == len(vec_ids) == 240)

    x, y, z = (gen.bronze_rows(s, 1000, 50, ["00000001", "00000002"]) for s in (7, 7, 8))
    check("bronze_rows same seed → same rows", gen.digest_rows(x.rows) == gen.digest_rows(y.rows))
    check("bronze_rows other seed → other rows", gen.digest_rows(x.rows) != gen.digest_rows(z.rows))
    for name, batch in (("x", x), ("y", y)):
        gen.pq.write_table(gen.bronze_table(batch), os.path.join(tmp, f"bronze_{name}.parquet"))
    check("bronze parquet byte-identical", _file_bytes(os.path.join(tmp, "bronze_x.parquet"))
          == _file_bytes(os.path.join(tmp, "bronze_y.parquet")))
    check("bronze batch composition", x.valid == 52 and len(x.new_ids) == 50 and 0 < x.groups < 50,
          f"valid={x.valid} groups={x.groups}")


def counting(spark, tmp: str) -> None:
    from graftbench.counting import CountingEmbedder, CountingSensor
    from refitd_etl_spark.operators.fixtures import bronze_fixture
    from refitd_etl_spark.pipeline import run_pipeline

    sensor, embedder = CountingSensor(spark.sparkContext), CountingEmbedder(spark.sparkContext)
    res = run_pipeline(spark, bronze_fixture(spark), os.path.join(tmp, "store"),
                       sensor=sensor, embedder=embedder)
    counts = (res.n_new, sensor.rows.value, embedder.rows.value)
    check("bronze_fixture: 6 new products, 12 sensor rows, 6 embedder rows", counts == (6, 12, 6),
          f"(new, sensor rows, embedder rows) = {counts}")


def incremental_json_defect(spark, tmp: str) -> None:
    from refitd_etl_spark.operators.fixtures import BRONZE_FIXTURE_ROWS, BRONZE_SCHEMA, bronze_fixture
    from refitd_etl_spark.pipeline import run_pipeline

    store = os.path.join(tmp, "store_incr")
    run_pipeline(spark, bronze_fixture(spark), store)
    # the same products under new ids: every valid row is new to the store
    moved = [(r[0], r[1], r[2], r[3].replace("-p", "-p9"), *r[4:]) for r in BRONZE_FIXTURE_ROWS]
    batch = spark.createDataFrame(moved, schema=BRONZE_SCHEMA)
    try:
        run_pipeline(spark, batch, store, write_metadata_json=True)
        raised = ""
    except Exception as e:
        raised = f"{type(e).__name__}: {e}"
    fixed = "no error: the defect is fixed; set workloads.TIMED_METADATA_JSON = True"
    check("known defect: incremental batch + metadata JSON sink fails",
          "FILE_NOT_EXIST" in raised or "FileNotFoundException" in raised,
          raised[:120].replace("\n", " ") or fixed)


def dedup_oracle(tmp: str) -> None:
    from graftbench import oracle
    from refitd_etl_spark.plans import ALL_QUERIES

    d = os.path.join(tmp, "corpus")
    gen.write_tables(gen.replicate_corpus(3, gen.CorpusSpec(150, 40, 3, 0.05, 0.25, 0.05)), d)
    tables = ("documents", "embeddings")
    con = oracle.connect(d, tables)
    sql = oracle.sql_digest(con, ALL_QUERIES["dedup_clusters"].oracle)
    alone = oracle.dedup_clusters_digest(con)
    shared = oracle.oracle_digests(d, tables, ["minhash_lsh_pairs", "dedup_clusters"])
    check("dedup_clusters two-step digest == SQL oracle digest",
          alone == sql == shared["dedup_clusters"],
          f"{alone['digest'][:20]} / {shared['dedup_clusters']['digest'][:20]} vs "
          f"{sql['digest'][:20]}")


def tracer(spark) -> None:
    from graftbench import tracing

    tr = tracing.Tracer(spark.sparkContext)
    uninstall = tracing.install(tr, type(spark.range(1)))
    try:
        with tr.span("root") as root:
            with tr.span("child"):
                spark.range(1000).count()
                time.sleep(0.01)
            spark.range(10).collect()
    finally:
        uninstall()
    total = sum(tracing.self_times(root).values())
    jobs = sum(len(s.jobs) for s in root.walk())
    check("span self times add up to the root wall time", abs(total - root.seconds) < 1e-9,
          f"{total:.6f} vs {root.seconds:.6f}")
    check("spans see their jobs", jobs >= 2, f"{jobs} jobs")
    check("tracer restores DataFrame methods", type(spark.range(1)).count.__name__ == "count")


def main() -> int:
    os.makedirs(WORK, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=WORK)
    try:
        configure_env(tmp, trace=False)
        generators(tmp)
        dedup_oracle(tmp)
        from refitd_etl_spark.session import get_spark

        spark = get_spark(app_name="graftbench-selftest")
        try:
            counting(spark, tmp)
            incremental_json_defect(spark, tmp)
            tracer(spark)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    failed = [n for n, ok, _ in RESULTS if not ok]
    print(f"{len(RESULTS) - len(failed)}/{len(RESULTS)} checks passed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
