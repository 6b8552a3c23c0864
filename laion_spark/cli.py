"""Command-line front-end — the reference's public interface rebuilt
over the Spark engine (reference search.py:145-191, generate.py:13-31).

    python -m laion_spark.cli search --text "a sleepy ridgeback dog" \
        --table /data/laion --limit 10 --filter "height >= 512"
    python -m laion_spark.cli concept_math --text "(cubism + surrealism) / 2" \
        --table /data/laion
    python -m laion_spark.cli generate --text "hello world"
    python -m laion_spark.cli generate --file concepts.txt --output out.txt

Differences from the reference, by design:
  - ``--table`` is a parquet path, a SESSION-CATALOG table name (the
    reference's ``--table laion_10m`` semantics — tables registered
    via ``save_as_table``, S6), or a bare name resolved under
    ``--data-dir``; the engine reads parquet/catalog directly instead
    of a ClickHouse server connection.
  - ``--encoder hash`` (default in this container) swaps the CLIP
    encoder for the deterministic hash encoder; ``--encoder clip``
    uses real CLIP when torch is installed (same flag surface,
    reference loads ViT-L/14 unconditionally).
  - ``--vector-col`` / ``--select`` expose the engine's cross-modal
    routing defaults instead of hard-coding the LAION column names.

Results print as an aligned text table with the reference's stat box
fields (generation_time / query_time); ``--html PATH`` additionally
writes the S8 HTML grid sink.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def _resolve_source(spark, table: str, data_dir: str):
    """-> (DataFrame, parquet_path_or_None). Precedence: explicit path,
    session-catalog table (S6 ``save_as_table`` — the reference's
    query-by-name), bare name under data_dir. Catalog tables return
    path=None: the DataFrame lanes serve them (the scan lane needs
    file paths)."""
    if os.path.exists(table) or "/" in table:
        return spark.read.parquet(table), table
    try:
        meta = spark.catalog.getTable(table)
        # persistent tables only: a leftover temp VIEW with a data-dir
        # table's name must not silently shadow the parquet file
        if meta.tableType and meta.tableType != "TEMPORARY":
            return spark.table(table), None
    except Exception:
        pass  # not in the catalog — fall through to the path form
    path = os.path.join(data_dir, f"{table}.parquet")
    return spark.read.parquet(path), path


def _get_encoder(kind: str, dim: int):
    from laion_spark.functions.encoder import ClipEncoder, HashEncoder

    return ClipEncoder() if kind == "clip" else HashEncoder(dim)


def _infer_dim(df, vector_col: str) -> int:
    from pyspark.sql import functions as F

    row = df.select(F.size(vector_col).alias("d")).limit(1).collect()
    if not row:
        raise SystemExit(f"table is empty; cannot infer --dim for {vector_col}")
    return int(row[0].d)


def _print_result(result, table: str, query: str) -> None:
    dicts = result.to_dicts()
    if dicts:
        cols = list(dicts[0].keys())
        widths = {c: max(len(c), *(len(str(d[c])) for d in dicts)) for c in cols}
        print("  ".join(c.ljust(widths[c]) for c in cols))
        for d in dicts:
            print("  ".join(str(d[c]).ljust(widths[c]) for c in cols))
    print(
        f"table: {table}  query: {query!r}  "
        f"generation_time: {result.generation_time:.3f} s  "
        f"query_time: {result.query_time:.3f} s"
    )


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="laion_spark",
        description="Search a LAION-style parquet table by text, image, or concept math",
    )
    sub = parser.add_subparsers(dest="command", required=True)

    def add_common(p, query_flags):
        g = p.add_mutually_exclusive_group(required=True)
        for flag in query_flags:
            g.add_argument(flag)
        p.add_argument("--table", default="embeddings")
        p.add_argument("--data-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
        p.add_argument("--limit", type=int, default=10)
        p.add_argument("--filter", default="")
        p.add_argument("--encoder", choices=("hash", "clip"), default="hash")
        p.add_argument("--dim", type=int, default=0, help="0 = infer from the vector column")
        p.add_argument("--vector-col", default="")
        p.add_argument("--select", default="", help="comma-separated output columns")
        p.add_argument("--html", default="", help="also write the HTML result grid here")

    search_p = sub.add_parser("search", help="search using text or images")
    add_common(search_p, ("--text", "--image"))
    concept_p = sub.add_parser("concept_math", help="search a concept-math expression")
    add_common(concept_p, ("--text",))

    sql_p = sub.add_parser(
        "sql",
        help="run SQL over the data-dir tables (ClickHouse function names available)",
    )
    sql_p.add_argument("query", help="SQL text; parquet tables in --data-dir are registered as views")
    sql_p.add_argument("--data-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    sql_p.add_argument("--limit", type=int, default=100, help="max rows to print (0 = all)")
    sql_p.add_argument("--json", action="store_true", help="print one JSON object per row instead of a table")

    gen_p = sub.add_parser("generate", help="generate embeddings for text, an image ref, or a file of lines")
    g = gen_p.add_mutually_exclusive_group(required=True)
    g.add_argument("--text")
    g.add_argument("--image")
    g.add_argument("--file")
    gen_p.add_argument("--encoder", choices=("hash", "clip"), default="hash")
    gen_p.add_argument("--dim", type=int, default=8)
    gen_p.add_argument("--output", default="output.txt", help="--file mode output path")

    args = parser.parse_args(argv)

    if args.command == "sql":
        import glob
        import json as _json

        from laion_spark.functions.sqlcompat import register_clickhouse_sql
        from laion_spark.session import get_session, tune_session

        spark = get_session("laion_spark_cli")
        tune_session(spark)
        register_clickhouse_sql(spark)
        for p in sorted(glob.glob(os.path.join(args.data_dir, "*.parquet"))):
            name = os.path.splitext(os.path.basename(p))[0]
            spark.read.parquet(p).createOrReplaceTempView(name)
        df = spark.sql(args.query)
        rows = df.collect() if args.limit == 0 else df.limit(args.limit).collect()
        if args.json:
            for r in rows:
                print(_json.dumps(r.asDict(), default=str))
        elif rows:
            cols_ = df.columns
            widths = {c: max(len(c), *(len(str(r[c])) for r in rows)) for c in cols_}
            print("  ".join(c.ljust(widths[c]) for c in cols_))
            for r in rows:
                print("  ".join(str(r[c]).ljust(widths[c]) for c in cols_))
        print(f"{len(rows)} row(s)", file=sys.stderr)
        return 0

    if args.command == "generate":
        if args.file:
            from laion_spark.operators.search import embed_lines
            from laion_spark.session import get_session

            spark = get_session("laion_spark_cli")
            t0 = time.time()
            c = embed_lines(spark, args.file, args.output, kind=args.encoder, dim=args.dim)
            print(f"{c} embeddings generated in {round(time.time() - t0, 3)}s")
        else:
            enc = _get_encoder(args.encoder, args.dim)
            if args.text:
                print(enc.encode(args.text))
            else:
                fn = getattr(enc, "encode_image", enc.encode)
                print(fn(args.image))
        return 0

    from laion_spark.operators.search import (
        search_concept,
        search_image,
        search_text,
        write_results_html,
    )
    from laion_spark.session import get_session

    spark = get_session("laion_spark_cli")
    df, path = _resolve_source(spark, args.table, args.data_dir)

    is_image = args.command == "search" and getattr(args, "image", None)
    default_vcol = "text_embedding" if is_image else "image_embedding"
    vector_col = args.vector_col or (default_vcol if default_vcol in df.columns else "embedding")
    if vector_col not in df.columns:
        raise SystemExit(f"no vector column {vector_col!r} in {args.table}; pass --vector-col")
    select = [c.strip() for c in args.select.split(",") if c.strip()] or [
        c for c in ("url", "caption", "vec_id", "id") if c in df.columns
    ]
    enc = _get_encoder(args.encoder, args.dim or _infer_dim(df, vector_col))
    kwargs = dict(
        k=args.limit,
        filter=args.filter or None,
        select=select,
        vector_col=vector_col,
        tiebreak=[select[0]] if select else (),
    )
    if args.command == "search" and not is_image and not args.filter and path is not None:
        # unfiltered text search over a parquet path: the scan lane reads
        # the files directly; filters, images, concepts and catalog
        # tables take the DataFrame lane (same kernel, rows from Spark)
        import time as _time

        from laion_spark.operators.knn import knn_search_parquet
        from laion_spark.operators.search import collect_result

        query = args.text
        t0 = _time.perf_counter()
        qvec = enc.encode(query)
        gen_time = _time.perf_counter() - t0
        plan = knn_search_parquet(
            spark, path, qvec, k=args.limit, vector_col=vector_col, select=select
        )
        result = collect_result(plan, gen_time, args.limit, vector_col)
    elif args.command == "concept_math":
        query = args.text
        result = search_concept(df, query, enc, **kwargs)
    elif is_image:
        query = args.image
        result = search_image(df, query, enc, **kwargs)
    else:
        query = args.text
        result = search_text(df, query, enc, **kwargs)

    _print_result(result, args.table, query)
    if args.html:
        write_results_html(result, args.html, table=args.table, query=query)
        print(f"wrote {args.html}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
