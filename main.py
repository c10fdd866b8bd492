"""CLI entry point — spark-submit packaging (reference A17,
changesetmd.py:494-627 re-expressed).

Run locally:
  python main.py <subcommand> ...
Run on a cluster (north_rule packaging):
  zip -r engine.zip changesetmd_spark
  spark-submit --py-files engine.zip main.py <subcommand> ...

Subcommands mirror the reference CLI surface:
  create      -c/--create        : initialize the table (SnapStore)
  truncate    -t/--trunc         : drop & recreate empty
  load        -f/--file          : bulk-load changeset XML (.osm/.gz/.bz2)
  replicate   -r/--replicate     : incremental replication from watermark
                                   (--fromseq/--toseq for bounded replay)
  query                          : run a named engine query (entry_queries)
  bench                          : one-line JSON benchmark
"""

from __future__ import annotations

import argparse
import sys

from changesetmd_spark import entry_queries as EQ
from changesetmd_spark.session import get_spark
from changesetmd_spark.sources import xml_ingest as xi
from changesetmd_spark.sources.replication import (
    FileReplicationSource,
    SyntheticReplicationSource,
    replicate,
)
from changesetmd_spark.sources.snapstore import SnapStore


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="changesetmd-spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    pc = sub.add_parser("create", help="create the changeset table")
    pc.add_argument("--root", required=True, help="table root directory")

    pt = sub.add_parser("truncate", help="drop and recreate the table empty")
    pt.add_argument("--root", required=True)

    pl = sub.add_parser("load", help="bulk-load changeset XML")
    pl.add_argument("--root", required=True)
    pl.add_argument("--file", required=True, help=".osm / .osm.gz / .osm.bz2")
    pl.add_argument(
        "--contributors", type=int, nargs="*", default=None,
        help="only load changesets by these uids (reference -k flag)",
    )

    pr = sub.add_parser("replicate", help="incremental replication")
    pr.add_argument("--root", required=True)
    pr.add_argument("--fromseq", type=int, default=None)
    pr.add_argument("--toseq", type=int, default=None)
    pr.add_argument(
        "--base", default=None,
        help="replication endpoint base (http(s)://host/path, "
             "file:///dir, or a directory) speaking the reference wire "
             "protocol — state.yaml head + AAA/BBB/CCC.osm.gz diffs "
             "(reference -r --url, changesetmd.py:518-520); omitted = "
             "synthetic source",
    )

    pe = sub.add_parser("expire", help="expire unreachable snapshots (table maintenance)")
    pe.add_argument("--root", required=True)
    pe.add_argument("--keep-last", type=int, default=0,
                    help="retain this many newest expirable snapshots (time-travel grace)")

    pq = sub.add_parser("query", help="run a named engine query")
    pq.add_argument("name", choices=sorted(EQ.QUERIES))
    pq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pq.add_argument("--limit", type=int, default=20)

    sub.add_parser("bench", help="run the benchmark (one JSON line)")

    args = p.parse_args(argv)
    if args.cmd == "bench":
        import bench

        bench.main()
        return 0

    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name=f"changesetmd-{args.cmd}")
    try:
        if args.cmd == "query":
            df = EQ.QUERIES[args.name](spark, args.sf_dir)
            df.show(args.limit, truncate=False)
            return 0

        store = SnapStore(spark, f"{args.root}/changesets", key="id")
        comments = SnapStore(spark, f"{args.root}/comments", key="comment_changeset_id")

        if args.cmd in ("create", "truncate"):
            if args.cmd == "truncate":
                import shutil

                shutil.rmtree(store.root, ignore_errors=True)
                shutil.rmtree(comments.root, ignore_errors=True)
                store = SnapStore(spark, f"{args.root}/changesets", key="id")
                comments = SnapStore(spark, f"{args.root}/comments", key="comment_changeset_id")
            from changesetmd_spark import schemas

            store.create(spark.createDataFrame([], schemas.CHANGESETS))
            comments.create(spark.createDataFrame([], schemas.COMMENTS))
            print(f"created {args.root}")
        elif args.cmd == "load":
            raw = xi.read_changesets_xml(spark, args.file)
            cs = xi.parse_changesets(raw, contributors=args.contributors)
            cm = xi.parse_comments(raw)
            s1 = store.merge(cs, source=args.file)
            s2 = comments.append(cm, source=args.file)
            lin = store.lineage().orderBy("snapshot_id").collect()[-1]
            print(
                f"loaded {lin.rows} changesets (snapshot {s1}, "
                f"{lin.rows_per_s:.0f} rows/s), comments snapshot {s2}"
            )
        elif args.cmd == "expire":
            o1 = store.expire_snapshots(keep_last=args.keep_last)
            o2 = comments.expire_snapshots(keep_last=args.keep_last)
            print(
                f"expired {o1['expired']}+{o2['expired']} snapshots, "
                f"freed {o1['bytes_freed'] + o2['bytes_freed']} bytes"
            )
        elif args.cmd == "replicate":
            if args.base:
                src = FileReplicationSource(spark, args.base)
            else:
                src = SyntheticReplicationSource(spark)
            out = replicate(
                store, src, comments_store=comments,
                from_seq=args.fromseq, to_seq=args.toseq,
            )
            print(f"replicated sequences {out['from']}..{out['to']} ({out['applied']} batches)")
    finally:
        if owns_session:  # don't kill a caller-owned session (tests)
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
