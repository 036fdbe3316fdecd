"""CLI — thin shell over the library (reference: ccdc/cli.py:25-74,
click-based `ccdc changedetection|classification`; argparse here to
stay dependency-free).

Usage:
  python -m lcmap_firebird_spark.cli changedetection \
      --observations /path/obs.parquet --x -1815585 --y 1064805 \
      --output /path/out
  python -m lcmap_firebird_spark.cli classification \
      --aux /path/aux.parquet --segments /path/out/segment \
      --msday 0 --meday 999999 --model-out /path/model
"""

from __future__ import annotations

import argparse
import json
import sys

from . import grid
from .session import session
from .sources.ids import chip_ids


def _cmd_changedetection(args: argparse.Namespace) -> int:
    from .plans.changedetection import changedetection

    spark = session("firebird-changedetection")
    obs = spark.read.parquet(args.observations)
    ids = None
    if (args.x is None) != (args.y is None):
        # one-of-two is a malformed invocation: silently ignoring it
        # would CCD-segment the ENTIRE table instead of one tile
        print("--x and --y must be given together", file=sys.stderr)
        return 2
    if args.x is not None and args.y is not None:
        t = grid.tile(args.x, args.y)
        xys = t["chips"][: args.number] if args.number else t["chips"]
        ids = chip_ids(spark, xys)
    tables = changedetection(obs, ids, output_base=args.output)
    if not args.output:
        print(json.dumps({"segments": tables["segment"].count()}))
    return 0


def _cmd_classification(args: argparse.Namespace) -> int:
    from .plans.classification import classify, features, train

    spark = session("firebird-classification")
    aux = spark.read.parquet(args.aux)
    segments = spark.read.parquet(args.segments)
    model = train(
        aux, segments, args.msday, args.meday, num_trees=args.trees, seed=args.seed
    )
    if model is None:
        print("No features found to train model", file=sys.stderr)
        return 1
    if args.model_out:
        model.write().overwrite().save(args.model_out)
    if args.export_model_out:
        from .plans.classification import export_model

        with open(args.export_model_out, "w") as f:
            json.dump(export_model(model), f)
    if args.predictions_out:
        from pyspark.sql import functions as F

        from .operators.relational import filter_not_in

        # same gates the model was FIT under: the trends filter
        # (shared helper, not an inline re-implementation) AND the
        # msday/meday segment window — out-of-window segments can
        # carry category values VectorIndexer never saw, and its
        # default handleInvalid='error' would throw at write time
        fdf = features(
            filter_not_in(aux, F.element_at("trends", 1), [0, 9]),
            segments.filter(
                (F.col("sday") >= args.msday) & (F.col("eday") <= args.meday)
            ),
        )
        classify(model, fdf, method=args.method).write.mode(
            "overwrite"
        ).parquet(args.predictions_out)
    return 0


def _cmd_corpus(args: argparse.Namespace) -> int:
    """Training-corpus preparation: gates → dedup ladder → optional
    decontamination/substring/mixture stages → split → partitioned
    write with manifest (plans/corpus.prepare_corpus + write_corpus)."""
    from .plans.corpus import prepare_corpus, write_corpus

    if args.mixture and args.mixture_tokens is None:
        # prepare_corpus raises the same constraint as a ValueError;
        # from the CLI that's a traceback — fail the argparse way
        print(
            "--mixture requires --mixture-tokens (total token budget)",
            file=sys.stderr,
        )
        return 2
    languages = tuple(
        s.strip() for s in args.languages.split(",") if s.strip()
    )
    if not languages:
        print("--languages must name at least one language", file=sys.stderr)
        return 2
    spark = session("firebird-corpus")
    docs = spark.read.parquet(args.documents)
    kwargs: dict = {}
    if args.benchmark:
        kwargs["benchmark"] = spark.read.parquet(args.benchmark)
    if args.embeddings:
        kwargs["embeddings"] = spark.read.parquet(args.embeddings)
        kwargs["semdedup_eps"] = args.semdedup_eps
    if args.substring_k:
        kwargs["substring_k"] = args.substring_k
    if args.mixture:
        weights = {}
        for kv in args.mixture.split(","):
            if not kv.strip():
                continue  # tolerate a trailing comma
            name_val = kv.split("=", 1)
            if len(name_val) != 2:
                print(
                    f"malformed --mixture entry {kv!r}: expected "
                    "domain=weight[,domain=weight...]",
                    file=sys.stderr,
                )
                return 2
            try:
                weights[name_val[0].strip()] = float(name_val[1])
            except ValueError:
                print(
                    f"malformed --mixture weight in {kv!r}",
                    file=sys.stderr,
                )
                return 2
        kwargs["mixture"] = weights
        kwargs["mixture_tokens"] = args.mixture_tokens
        kwargs["domain_col"] = args.domain_col
    out = prepare_corpus(
        docs,
        languages=languages,
        jaccard_threshold=args.jaccard_threshold,
        redact=args.redact,
        **kwargs,
    )
    manifest = write_corpus(out, args.output, domain_col=args.domain_col)
    print(json.dumps(manifest))
    return 0


def _cmd_lake(args: argparse.Namespace) -> int:
    """Lakehouse administration over a table root. Metadata actions
    (describe/history/vacuum/checkpoint/ddl) run without Spark where
    possible; data actions (show/merge/delete/compact/cluster/
    restore/clone) build a session. `delete` records deletion
    vectors (LakeTable.delete_mor); `compact` rewrites the files
    they mark and reclaims them."""
    from .lakehouse import LakeTable

    root = args.root
    action = args.action
    # pure-metadata actions: session-less attach (log replay is
    # plain filesystem) — usable on a box with no JVM warm-up cost
    if action == "describe":
        print(json.dumps(LakeTable.attach(root).describe_detail()))
        return 0
    if action == "history":
        print(json.dumps(LakeTable.attach(root).history()))
        return 0
    if action == "vacuum":
        removed = LakeTable.attach(root).vacuum(
            keep_last=args.keep_last,
            retention_seconds=args.retention_seconds,
        )
        print(json.dumps({"removed": removed}))
        return 0
    if action == "checkpoint":
        v = LakeTable.attach(root).checkpoint_log()
        print(json.dumps({"checkpointed_at": v}))
        return 0

    if action == "show" and args.version is not None and args.as_of is not None:
        # picking one silently would time-travel to a different
        # version than the user named
        print("--version and --as-of are mutually exclusive",
              file=sys.stderr)
        return 2
    spark = session("firebird-lake")
    t = LakeTable(spark, root)
    if action == "show":
        df = (
            t.snapshot(version=args.version)
            if args.as_of is None
            else t.snapshot(as_of=args.as_of)
        )
        if args.limit:
            df = df.limit(args.limit)
        for row in df.toJSON().collect():
            print(row)
        return 0
    if action == "count":
        df = t.snapshot(version=args.version)
        print(json.dumps({"rows": df.count()}))
        return 0
    if action == "merge":
        if not args.source:
            print("--source is required for merge", file=sys.stderr)
            return 2
        v = t.merge(spark.read.parquet(args.source))
        print(json.dumps({"version": v}))
        return 0
    if action == "append":
        if not args.source:
            print("--source is required for append", file=sys.stderr)
            return 2
        v = t.append(spark.read.parquet(args.source))
        print(json.dumps({"version": v}))
        return 0
    if action == "delete":
        if not args.predicate:
            print("--predicate is required for delete", file=sys.stderr)
            return 2
        v = t.delete_mor(args.predicate)
        print(json.dumps({"version": v}))
        return 0
    if action == "compact":
        v = t.compact(target_rows=args.target_rows)
        print(json.dumps({"version": v}))
        return 0
    if action == "cluster":
        v = t.cluster(args.by.split(",") if args.by else None)
        print(json.dumps({"version": v}))
        return 0
    if action == "restore":
        if args.version is None:
            print("--version is required for restore", file=sys.stderr)
            return 2
        v = t.restore(args.version)
        print(json.dumps({"version": v}))
        return 0
    if action == "clone":
        if not args.dest:
            print("--dest is required for clone", file=sys.stderr)
            return 2
        c = t.clone(args.dest)
        print(json.dumps({"root": c.root, "version": c.latest_version()}))
        return 0
    if action == "rename-column":
        old_new = (args.column or "").split(":", 1)
        if len(old_new) != 2:
            print("--column old:new is required", file=sys.stderr)
            return 2
        v = t.rename_column(old_new[0], old_new[1])
        print(json.dumps({"version": v}))
        return 0
    if action == "drop-column":
        if not args.column:
            print("--column is required", file=sys.stderr)
            return 2
        v = t.drop_column(args.column)
        print(json.dumps({"version": v}))
        return 0
    print(f"unknown lake action {action!r}", file=sys.stderr)
    return 2


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="lcmap-firebird-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    cd = sub.add_parser("changedetection", help="segment pixel time series")
    cd.add_argument("--observations", required=True)
    cd.add_argument("--x", type=float, default=None)
    cd.add_argument("--y", type=float, default=None)
    cd.add_argument("--number", type=int, default=2500,  # cli.py:29 default
                    help="max chips to process (0 = the whole tile)")
    cd.add_argument("--output", default=None)
    cd.set_defaults(fn=_cmd_changedetection)

    cl = sub.add_parser("classification", help="train/apply random forest")
    cl.add_argument("--aux", required=True)
    cl.add_argument("--segments", required=True)
    cl.add_argument("--msday", type=int, required=True)
    cl.add_argument("--meday", type=int, required=True)
    cl.add_argument("--trees", type=int, default=500)  # randomforest.py:38
    cl.add_argument("--seed", type=int, default=42)
    cl.add_argument("--model-out", default=None)
    cl.add_argument("--predictions-out", default=None)
    cl.add_argument(
        "--method", choices=("mllib", "replay"), default="mllib",
        help="serving leg for --predictions-out: MLlib transform, or "
             "the zero-UDF Catalyst replay of the exported ensemble "
             "(rfrawp as array<double>)",
    )
    cl.add_argument(
        "--export-model-out", default=None,
        help="write the JSON replay artifact (serveable without any "
             "MLlib runtime via classify(method='replay'))",
    )
    cl.set_defaults(fn=_cmd_classification)

    co = sub.add_parser(
        "corpus", help="prepare a deduplicated training corpus"
    )
    co.add_argument("--documents", required=True)
    co.add_argument("--output", required=True)
    co.add_argument("--languages", default="en")
    co.add_argument("--jaccard-threshold", type=float, default=0.5)
    co.add_argument("--benchmark", default=None,
                    help="parquet of eval items to decontaminate against")
    co.add_argument("--embeddings", default=None,
                    help="parquet (vec_id, embedding) for the SemDeDup rung")
    co.add_argument("--semdedup-eps", type=float, default=0.05)
    co.add_argument("--substring-k", type=int, default=None)
    co.add_argument("--mixture", default=None,
                    help="domain weights, e.g. web=0.6,books=0.4")
    co.add_argument("--mixture-tokens", type=int, default=None)
    co.add_argument("--domain-col", default="source")
    co.add_argument("--redact", action="store_true")
    co.set_defaults(fn=_cmd_corpus)

    lk = sub.add_parser(
        "lake", help="administer a lakehouse table root"
    )
    lk.add_argument(
        "action",
        choices=[
            "describe", "history", "vacuum", "checkpoint", "show",
            "count", "append", "merge", "delete", "compact",
            "cluster", "restore", "clone", "rename-column",
            "drop-column",
        ],
    )
    lk.add_argument("--root", required=True)
    lk.add_argument("--source", default=None,
                    help="parquet path (append/merge)")
    lk.add_argument("--predicate", default=None,
                    help="SQL (delete: marks matching rows deleted; "
                    "compact reclaims them)")
    lk.add_argument("--version", type=int, default=None)
    lk.add_argument("--as-of", type=float, default=None,
                    help="unix-seconds timestamp time travel (show)")
    lk.add_argument("--limit", type=int, default=20,
                    help="show: max rows to collect (default 20; "
                    "0 = explicit full-table opt-in)")
    lk.add_argument("--target-rows", type=int, default=1_000_000)
    lk.add_argument("--by", default=None, help="cluster columns a,b")
    lk.add_argument("--dest", default=None, help="clone destination")
    lk.add_argument("--column", default=None,
                    help="drop-column NAME | rename-column OLD:NEW")
    lk.add_argument("--keep-last", type=int, default=1)
    lk.add_argument("--retention-seconds", type=float,
                    default=7 * 24 * 3600.0)
    lk.set_defaults(fn=_cmd_lake)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
