"""Compare the benchmark's generated inputs with the sf0.1 corpus.

    python3 perfbench/fidelity.py SF_DIR [--seeds 1,2] [--reps 3]

``SF_DIR`` holds the sf0.1 ``lineitem.parquet`` and ``documents.parquet``
that ``bench.py`` runs on. For that corpus and for the inputs the
benchmark generates from each seed, the same engine calls are made and
one JSON line per (table, source) is printed:

* lineitem: rows, and the ORC bytes ``io.write_orc`` writes with zlib
  and with zstd + ``partition_by=["l_returnflag"]``, with the median
  write times (writes interleaved across sources, after one warm-up
  round);
* documents: rows, and for ``dedup_connected_components`` and
  ``streaming_pysource_jsonl_ingest`` the median call time (calls
  interleaved across sources, after one warm-up call each) plus, for
  connected components, the cluster count, the multi-document clusters
  and the documents in them.

Run it from the root of a checkout; it writes only under
``.perfbench-run/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from workloads import OrcBulk, LlmCuration, orc_files  # noqa: E402

QUERIES = ("dedup_connected_components", "streaming_pysource_jsonl_ingest")


def timed(fn):
    t = time.monotonic()
    out = fn()
    return time.monotonic() - t, out


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("sf_dir")
    p.add_argument("--seeds", default="1,2")
    p.add_argument("--reps", type=int, default=3)
    args = p.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]
    work = os.path.join(ROOT, ".perfbench-run", f"fidelity-p{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))), SPARK_GRAFT_DRIVER_MEM="3g",
                      TZ="UTC", TMPDIR=os.path.join(work, "tmp"))
    time.tzset()
    os.chdir(work)

    from orca_spark import io, tables
    from orca_spark.queries import queries
    from orca_spark.session import get_spark

    spark = get_spark("perfbench_fidelity")
    try:
        sources = {"sf0.1": os.path.abspath(os.path.join(ROOT, args.sf_dir))}
        for s in seeds:
            d = os.path.join(work, f"gen_s{s}")
            gen.write_parquet(gen.lineitem(s, OrcBulk.ROWS), os.path.join(d, "lineitem.parquet"),
                              row_group_size=OrcBulk.ROWS)
            gen.write_documents(gen.documents(s, LlmCuration.DOCS), d)
            sources[f"seed{s}"] = d

        writes = {"zlib": {"compression": "zlib"},
                  "zstd_part": {"compression": "zstd", "partition_by": ["l_returnflag"]}}
        out = {name: {"table": "lineitem", "source": name} for name in sources}
        times: dict[tuple[str, str], list[float]] = {}
        for rep in range(args.reps + 1):
            for name, d in sources.items():
                df = tables.load(spark, d, "lineitem")
                out[name]["rows"] = df.count()
                for kind, kw in writes.items():
                    path = os.path.join(work, f"orc_{name}_{kind}")
                    dt, _ = timed(lambda: io.write_orc(df, path, **kw))
                    if rep:
                        times.setdefault((name, kind), []).append(dt)
                    out[name][f"{kind}_bytes"] = orc_files(path)[1]
                    shutil.rmtree(path)
        for name, rec in out.items():
            for kind in writes:
                rec[f"{kind}_write_s"] = round(statistics.median(times[(name, kind)]), 3)
            print(json.dumps(rec), flush=True)

        q = queries()
        calls: dict[tuple[str, str], list[float]] = {}
        info: dict[str, dict] = {}
        for rep in range(args.reps + 1):
            for name, d in sources.items():
                docs = tables.load(spark, d, "documents")
                info.setdefault(name, {"table": "documents", "source": name, "rows": docs.count()})
                for query in QUERIES:
                    dt, df = timed(lambda: q[query](spark, d))
                    rows = df.collect()
                    if rep:
                        calls.setdefault((name, query), []).append(dt)
                    if "cluster_id" in df.columns:
                        sizes = Counter(r["cluster_id"] for r in rows)
                        multi = [n for n in sizes.values() if n > 1]
                        info[name].update(clusters=len(sizes), multi_doc_clusters=len(multi),
                                          docs_in_multi=sum(multi))
        for name, rec in info.items():
            for query in QUERIES:
                rec[f"{query}_call_s"] = round(statistics.median(calls[(name, query)]), 3)
            print(json.dumps(rec), flush=True)
    finally:
        spark.stop()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
