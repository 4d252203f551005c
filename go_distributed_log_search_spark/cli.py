"""Command surface — the reference's CLI re-expressed over Spark.

Reference: /root/reference/src/main.go:50-71 dispatches subcommands
``create | drop | index | merge | search`` (arg parsing
src/args/args.go:241-261). This module reproduces that surface:

    python -m go_distributed_log_search_spark create  CONFIG.yaml
    python -m go_distributed_log_search_spark index   NAME INPUT  (file | - | kafka://)
    python -m go_distributed_log_search_spark search  NAME QUERY --limit 3
    python -m go_distributed_log_search_spark merge   NAME
    python -m go_distributed_log_search_spark drop    NAME

with ``--warehouse DIR`` (default ./spark-warehouse) standing in for the
reference's ``--db`` catalog + object-storage pair. The catalog row for an
index is its YAML config in ``_catalog.sqlite`` (create.go:49-53), and its
commits are lineage rows keyed by the index name; ``index`` reads its
input through the one source dispatch and runs the schema-driven S1+P1
decode (unclaimed keys -> ``_dynamic``); ``search``
runs the P10 substring predicate + A3 additive scorer with true top-k and
re-expands ``_dynamic`` into the output JSON (P9, search.go:318-326);
``merge`` is the read-repartition-rewrite compaction (merge.go:24-85);
``drop`` removes the catalog rows, then the data (drop.go:15-87).
"""

from __future__ import annotations

import argparse
import json
import sys
import uuid

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from .operators.search import substring_search
from .schema import IndexSchema, load_schema
from .sources.catalog import Warehouse
from .sources.jsonl import connect_to_source, read_jsonl_indexed


def _load_index_schema(wh: Warehouse, name: str) -> IndexSchema:
    config = wh.index_config(name)
    if config is None:
        raise SystemExit(f"index '{name}' does not exist; run `create` first")
    return load_schema(config)


def cmd_create(spark: SparkSession, wh: Warehouse, args) -> int:
    """create.go:20-56: validate the YAML, register it in the catalog."""
    del spark
    with open(args.config) as f:
        text = f.read()
    schema = load_schema(text)  # validates (e.g. array-of-object rejection)
    wh.save_index(schema.name, text)
    print(f"created index '{schema.name}' ({len(schema.fields)} fields)")
    return 0


def cmd_index(spark: SparkSession, wh: Warehouse, args) -> int:
    """index.go:86-231: one batch = one UUID-keyed commit + lineage row.
    The quarantined lines are counted by the write job itself."""
    schema = _load_index_schema(wh, args.name)
    quarantined = Observation()
    df = read_jsonl_indexed(
        connect_to_source(spark, args.input), schema, keep_corrupt=True
    ).observe(quarantined, F.count_if("_corrupt").alias("n"))
    batch_id = str(uuid.uuid4())
    good = df.filter(~df["_corrupt"]).drop("_corrupt")
    n = wh.append_batch(good, args.name, batch_id)
    n_corrupt = quarantined.get["n"]
    wh.record_lineage_many(batch_id, {args.name: n})
    print(f"indexed {n} docs into '{args.name}' (batch {batch_id[:8]}, "
          f"{n_corrupt} corrupt quarantined)")
    return 0


def cmd_search(spark: SparkSession, wh: Warehouse, args) -> int:
    """search.go:39-150: P10 predicate + A3 score + top-k, pretty JSON out;
    _dynamic re-expanded into the root document (P9)."""
    del spark
    schema = _load_index_schema(wh, args.name)
    if not wh.exists(args.name):
        print("no documents indexed", file=sys.stderr)
        return 1
    df = wh.read(args.name)
    # dotted struct-child paths score with their leaf-name weight
    # (search.go:225-243); keep only paths whose ROOT column exists
    text_fields = [
        p for p in schema.text_field_paths() if p.split(".", 1)[0] in df.columns
    ]
    tiebreak = tuple(c for c in df.columns if c not in ("_dynamic", "batch_id"))
    hits = substring_search(
        df, args.query, limit=args.limit,
        string_fields=text_fields,
        map_fields=["_dynamic"] if "_dynamic" in df.columns else None,
        tiebreak=tiebreak,
    )
    for row in hits.collect():
        doc = row.asDict(recursive=True)
        doc.pop("batch_id", None)
        dyn = doc.pop("_dynamic", None) or {}
        doc.update(dyn)  # P9: dynamic fields re-expanded at output
        print(json.dumps(doc, indent=2, sort_keys=True, default=str))
    return 0


def cmd_merge(spark: SparkSession, wh: Warehouse, args) -> int:
    del spark
    _load_index_schema(wh, args.name)
    if not wh.exists(args.name):
        raise SystemExit(f"index '{args.name}' has no data to merge")
    wh.compact(args.name)
    print(f"merged '{args.name}' to one file per batch")
    return 0


def cmd_drop(spark: SparkSession, wh: Warehouse, args) -> int:
    del spark
    wh.drop(args.name)
    print(f"dropped '{args.name}'")
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="go_distributed_log_search_spark",
        description="PySpark-native log search engine (reference CLI parity)",
    )
    ap.add_argument("--warehouse", default="spark-warehouse",
                    help="warehouse root directory (catalog + data)")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("create", help="register an index from a YAML config")
    p.add_argument("config")
    p.set_defaults(fn=cmd_create)

    p = sub.add_parser("index", help="ingest a JSONL file / - (stdin) / kafka:// into an index")
    p.add_argument("name")
    p.add_argument("input", help="a JSONL file, - (stdin) or kafka://host:port/topic")
    p.set_defaults(fn=cmd_index)

    p = sub.add_parser("search", help="substring search with additive scoring")
    p.add_argument("name")
    p.add_argument("query")
    # args.go:215-216: default limit 1
    p.add_argument("--limit", type=int, default=1)
    p.set_defaults(fn=cmd_search)

    p = sub.add_parser("merge", help="compact an index's data files")
    p.add_argument("name")
    p.set_defaults(fn=cmd_merge)

    p = sub.add_parser("drop", help="drop an index (data + catalog entry)")
    p.add_argument("name")
    p.set_defaults(fn=cmd_drop)
    return ap


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    if spark is None:
        from .session import get_spark

        spark = get_spark("cli")
    wh = Warehouse(spark, args.warehouse)
    return args.fn(spark, wh, args)


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
