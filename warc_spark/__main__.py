"""CLI entry point — the ``spark-submit --py-files`` story (north rule):

    # package the library for executors, then drive a crawl
    python -c "from warc_spark.plans.session import _ship_package"  # or zip manually
    spark-submit --py-files warc_spark_pkg.zip warc_spark/__main__.py crawl \\
        --pages /data/pages_parquet --seeds 100000 --out /data/crawl \\
        --batches 10 --budget 128

    # local development is the same command without spark-submit:
    python -m warc_spark crawl --synth-pages 200000 --seeds 50000 \\
        --out /tmp/crawl --batches 3 --budget 1024

``--pages`` points at any parquet/Iceberg table with the input_hint schema
(url:string, warc_ts:timestamp, html:binary, text:string, lang:string);
``--synth-pages N`` generates the deterministic Common-Crawl-style corpus
instead. ``--resume`` continues from the snapshot store's last committed
batch (exact resume). Per-batch manifests stream to stdout as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="warc_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="run the batch frontier loop")
    src = c.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="parquet dir with the pages table")
    src.add_argument("--synth-pages", type=int, help="generate N synthetic pages")
    c.add_argument("--seeds", type=int, default=1000, help="number of seed urls")
    c.add_argument("--seeds-table", help="parquet dir with (url, priority) seeds")
    c.add_argument("--out", required=True, help="snapshot store directory")
    c.add_argument("--batches", type=int, default=10)
    c.add_argument("--budget", type=int, default=64, help="per-host politeness budget")
    c.add_argument(
        "--robots",
        help="parquet dir of robots rules (ROBOTS_SCHEMA or the full "
             "Allow/wildcard ROBOTS_SCHEMA_V2 from robots_rules_from_bodies)",
    )
    c.add_argument(
        "--batch-seconds", type=float, default=None,
        help="derive per-host politeness budgets from robots Crawl-delay "
             "(budget = floor(batch_seconds / delay), min 1)",
    )
    c.add_argument(
        "--budgets-table",
        help="parquet dir with (host, max_fetches_per_batch) overrides — "
             "e.g. the traps subcommand's budgets/ output; combined with "
             "--batch-seconds budgets by MIN per host (most restrictive "
             "wins)",
    )
    c.add_argument("--resume", action="store_true", help="continue from last snapshot")
    c.add_argument(
        "--normalize-links", action="store_true",
        help="canonicalize extracted hrefs before frontier emission",
    )
    c.add_argument(
        "--extractor", choices=("synthetic", "html"), default="synthetic",
        help="link+text extraction kernel: 'html' = real-HTML (tag-aware "
             "text, <base>-aware relative-href resolution) for real "
             "crawled corpora",
    )
    c.add_argument("--master", default=None, help="spark master (default env/local)")
    c.add_argument("--seed", type=int, default=42)

    g = sub.add_parser(
        "ingest",
        help="WARC files -> input_hint pages parquet (the real-corpus "
             "entry: ingest a Common-Crawl-style segment, then `crawl "
             "--pages <out> --extractor html`)",
    )
    g.add_argument("--warc", required=True, help="WARC path/glob (*.warc[.gz])")
    g.add_argument("--out", required=True, help="output parquet dir")
    g.add_argument(
        "--extractor", choices=("synthetic", "html"), default="html",
        help="text-extraction kernel for the pages table's text column",
    )
    g.add_argument(
        "--split-bytes", type=int, default=None,
        help="intra-file parallel scan with ranged reads of ~N-byte "
             "chunks (read_warc_presplit) instead of one task per file",
    )
    g.add_argument("--master", default=None)

    k = sub.add_parser(
        "compact",
        help="rewrite a WARC set with identical-payload-digest revisit "
             "dedup (operators/revisit.py) — non-first captures of each "
             "payload become slim revisit records",
    )
    k.add_argument("--warc", required=True, help="WARC path/glob (*.warc[.gz])")
    k.add_argument("--out", required=True, help="output dir for deduped parts")
    k.add_argument("--no-compress", action="store_true")
    k.add_argument("--master", default=None)

    e = sub.add_parser(
        "export",
        help="derived formats from a WARC set: WET (extracted-text "
             "conversion records), WAT (JSON metadata envelopes), or a "
             "CDX capture index with SURT urlkeys",
    )
    e.add_argument("--warc", required=True, help="WARC path/glob (*.warc[.gz])")
    e.add_argument("--out", required=True, help="output dir")
    e.add_argument("--format", choices=("wet", "wat", "cdx"), required=True)
    e.add_argument("--no-compress", action="store_true")
    e.add_argument("--master", default=None)

    h = sub.add_parser(
        "graph",
        help="host web-graph analytics from a pages table: weighted "
             "PageRank + HITS + degrees + connected components per host -> "
             "parquet (the crawl-prioritization / host-centrality "
             "product)",
    )
    hsrc = h.add_mutually_exclusive_group(required=True)
    h.add_argument("--out", required=True, help="output parquet dir")
    hsrc.add_argument("--pages", help="parquet dir with the pages table")
    hsrc.add_argument("--synth-pages", type=int, help="generate N synthetic pages")
    h.add_argument("--iterations", type=int, default=10, help="PageRank iterations")
    h.add_argument("--damping", type=float, default=0.85)
    h.add_argument(
        "--extractor", choices=("synthetic", "html"), default=None,
        help="link-extraction kernel (default: synthetic for --synth-pages, "
             "html for --pages)",
    )
    h.add_argument(
        "--edges-out", help="also write the raw (src, dst, weight) edge table"
    )
    h.add_argument(
        "--domain-edges-out",
        help="also write the registrable-domain rollup of the edge table "
             "(the Common-Crawl domain-graph product)",
    )
    h.add_argument(
        "--seeds-out",
        help="also write a (url, priority) seed table ranked by host "
             "pagerank — feeds `crawl --seeds-table` (the graph->crawl "
             "prioritization loop)",
    )
    h.add_argument(
        "--top-hosts", type=int, default=None,
        help="with --seeds-out: keep only pages on the N highest-ranked hosts",
    )
    h.add_argument(
        "--anchors-out",
        help="also write the top-k anchor-text phrases per target host "
             "(dst, anchor, weight, rank) — what in-links call each host",
    )
    h.add_argument(
        "--top-anchors", type=int, default=5,
        help="with --anchors-out: anchor phrases kept per host",
    )
    h.add_argument("--master", default=None)
    h.add_argument("--seed", type=int, default=42)

    r = sub.add_parser(
        "resolve",
        help="redirect-chain resolution from a WARC set: url -> "
             "final_url/hops/final_status with loop + dangling detection "
             "-> parquet (dangling targets are frontier work; the mapping "
             "is the canonical-url table dedup joins against)",
    )
    r.add_argument("--warc", required=True, help="WARC path/glob (*.warc[.gz])")
    r.add_argument("--out", required=True, help="output parquet dir")
    r.add_argument("--max-hops", type=int, default=8)
    r.add_argument("--master", default=None)

    s = sub.add_parser(
        "seeds",
        help="merge (url, priority) seed tables from different signals "
             "(graph --seeds-out ranks, recrawl scheduler, sitemap "
             "discovery) into ONE weighted max-merged frontier input -> "
             "parquet for `crawl --seeds-table`",
    )
    s.add_argument(
        "--tables", nargs="+", required=True,
        help="parquet dirs, each with (url, priority) columns",
    )
    s.add_argument(
        "--weights", nargs="+", type=float, default=None,
        help="one weight per table scaling its [0,1] priorities into the "
             "shared scale (default 1.0 each)",
    )
    s.add_argument("--out", required=True, help="output parquet dir")
    s.add_argument("--master", default=None)

    t = sub.add_parser(
        "traps",
        help="crawl-trap detection: per-host URL-template explosion "
             "stats from a WARC set or a pages/captures parquet -> stats "
             "parquet + flagged-host politeness-budget overrides for "
             "`crawl`",
    )
    t.add_argument("--warc", default=None, help="WARC path/glob (*.warc[.gz])")
    t.add_argument(
        "--pages", default=None,
        help="parquet dir with a url column (alternative to --warc)",
    )
    t.add_argument("--out", required=True, help="output dir (stats/, budgets/)")
    t.add_argument("--min-urls", type=int, default=1000)
    t.add_argument("--min-urls-per-template", type=float, default=50.0)
    t.add_argument(
        "--trap-budget", type=int, default=1,
        help="max fetches per batch for flagged hosts",
    )
    t.add_argument("--master", default=None)

    u = sub.add_parser(
        "curate",
        help="training-data curation pipeline over a documents/pages "
             "parquet: quality cascade -> exact dedup -> MinHash near-dup "
             "-> host-frequency cap -> PII scrub, each stage optional -> "
             "curated parquet + per-stage counts",
    )
    u.add_argument("--docs", required=True, help="parquet dir (id/text[/lang/url])")
    u.add_argument("--out", required=True, help="output parquet dir")
    u.add_argument(
        "--steps", default="quality,exact,minhash,pii",
        help="comma list from: quality, exact, minhash, hostcap, pii "
             "(hostcap needs --url-col; applied in the canonical order "
             "regardless of how the list is written)",
    )
    u.add_argument("--id-col", default="doc_id")
    u.add_argument("--text-col", default="text")
    u.add_argument("--lang-col", default="lang")
    u.add_argument("--url-col", default="url")
    u.add_argument("--langs", default="en", help="comma list kept by quality")
    u.add_argument("--min-tokens", type=int, default=25)
    u.add_argument("--jaccard", type=float, default=0.5)
    u.add_argument("--host-cap", type=int, default=10000)
    u.add_argument("--master", default=None)

    x = sub.add_parser(
        "index",
        help="offset index for WARC (gzip members) or ARC (records) -> "
             "parquet; feeds read_warc_records/read_arc_records random "
             "access",
    )
    x.add_argument("--path", required=True, help="archive path/glob")
    x.add_argument("--out", required=True, help="output parquet dir")
    x.add_argument("--format", choices=("warc", "arc"), default="warc")
    x.add_argument("--master", default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    if args.cmd == "ingest":
        from .plans import get_spark
        from .sources import read_warc, read_warc_presplit
        from .sources.pages import pages_from_records

        spark = get_spark(app="warc_spark_ingest", master=args.master)
        records = (
            read_warc_presplit(spark, args.warc, split_bytes=args.split_bytes)
            if args.split_bytes
            else read_warc(spark, args.warc)
        )
        pages = pages_from_records(records, extractor=args.extractor)
        pages.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"pages": n, "out": args.out}))
        spark.stop()
        return 0
    if args.cmd == "seeds":
        from .operators.priority import merge_seed_tables
        from .plans import get_spark

        spark = get_spark(app="warc_spark_seeds", master=args.master)
        tables = [spark.read.parquet(p) for p in args.tables]
        merged = merge_seed_tables(tables, weights=args.weights)
        merged.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"seeds": n, "tables": len(tables), "out": args.out}))
        spark.stop()
        return 0
    if args.cmd == "compact":
        from pyspark.sql import functions as F

        from .operators.revisit import revisit_dedup
        from .plans import get_spark
        from .sources import read_warc
        from .sources.warc_source import write_warc

        spark = get_spark(app="warc_spark_compact", master=args.master)
        dd = revisit_dedup(read_warc(spark, args.warc))
        manifest = write_warc(
            dd, args.out, compress=not args.no_compress
        ).collect()
        n_rev = dd.where(F.col("is_revisit")).count()
        print(json.dumps({
            "records": sum(m.records for m in manifest),
            "revisits": n_rev,
            "bytes": sum(m.bytes for m in manifest),
            "parts": len(manifest),
            "out": args.out,
        }))
        spark.stop()
        return 0
    if args.cmd == "export":
        from .plans import get_spark
        from .sources import read_warc

        spark = get_spark(app="warc_spark_export", master=args.master)
        records = read_warc(spark, args.warc)
        if args.format == "wet":
            from .sources.pages import pages_from_records
            from .sources.wet import write_wet

            manifest = write_wet(
                pages_from_records(records, extractor="html"),
                args.out, compress=not args.no_compress,
            ).collect()
            out = {"records": sum(m.records for m in manifest),
                   "bytes": sum(m.bytes for m in manifest)}
        elif args.format == "wat":
            from .sources.wet import write_wat

            manifest = write_wat(
                records, args.out, compress=not args.no_compress
            ).collect()
            out = {"records": sum(m.records for m in manifest),
                   "bytes": sum(m.bytes for m in manifest)}
        else:
            from .sources.cdx import cdx_records, read_cdx, write_cdx

            write_cdx(cdx_records(records), args.out)
            out = {"entries": read_cdx(spark, args.out).count()}
        out["out"] = args.out
        print(json.dumps(out))
        spark.stop()
        return 0
    if args.cmd == "graph":
        from .functions.graph import (
            connected_components,
            hits,
            host_graph_from_pages,
            pagerank,
        )
        from .plans import get_spark

        spark = get_spark(app="warc_spark_graph", master=args.master)
        if args.pages:
            pages = spark.read.parquet(args.pages)
            extractor = args.extractor or "html"
        else:
            from .sources.pages import synth_pages

            pages = synth_pages(spark, args.synth_pages, seed=args.seed)
            extractor = args.extractor or "synthetic"
        edges = host_graph_from_pages(pages, extractor=extractor).persist()
        if args.edges_out:
            edges.write.mode("overwrite").parquet(args.edges_out)
        if args.domain_edges_out:
            from .functions.graph import domain_edges

            domain_edges(edges).write.mode("overwrite").parquet(
                args.domain_edges_out
            )
        pr = pagerank(
            edges, iterations=args.iterations, damping=args.damping,
            persist_every=4 if args.iterations > 6 else 0,
        )
        cc = connected_components(edges)
        ha = hits(edges, iterations=max(2, args.iterations // 2))
        pr.join(cc, "host").join(ha, "host").write.mode("overwrite").parquet(
            args.out
        )
        out = spark.read.parquet(args.out)
        res = {
            "hosts": out.count(),
            "components": out.select("component").distinct().count(),
            "out": args.out,
        }
        if args.seeds_out:
            from .functions.graph import seeds_from_pagerank

            seeds_from_pagerank(
                pages, out, top_hosts=args.top_hosts
            ).write.mode("overwrite").parquet(args.seeds_out)
            res["seeds"] = spark.read.parquet(args.seeds_out).count()
        if args.anchors_out:
            from .functions.graph import anchor_texts_from_pages, top_anchors

            top_anchors(
                anchor_texts_from_pages(pages), k=args.top_anchors
            ).write.mode("overwrite").parquet(args.anchors_out)
            res["anchor_hosts"] = (
                spark.read.parquet(args.anchors_out)
                .select("dst").distinct().count()
            )
        print(json.dumps(res))
        spark.stop()
        return 0
    if args.cmd == "resolve":
        from pyspark.sql import functions as F

        from .operators.redirects import resolve_redirects
        from .plans import get_spark
        from .sources import read_warc
        from .sources.warc_source import split_http_payload

        spark = get_spark(app="warc_spark_resolve", master=args.master)
        sp = split_http_payload(
            read_warc(spark, args.warc).filter(
                (F.col("warc_type") == "response")
                & F.col("target_uri").isNotNull()
            ),
            drop_payload=True,
        )
        # one row per url: the LATEST capture's status + Location header
        # (max_by on (date, record_id) — the same total order
        # latest_captures uses; one url-keyed exchange)
        caps = (
            sp.groupBy(F.col("target_uri").alias("url"))
            .agg(
                F.max_by(
                    F.struct(
                        F.col("http_status"),
                        F.col("http_headers").getItem("location").alias(
                            "location"
                        ),
                    ),
                    F.struct(F.col("warc_date"), F.col("record_id")),
                ).alias("_c")
            )
            .select("url", "_c.http_status", "_c.location")
        )
        resolved = resolve_redirects(caps, max_hops=args.max_hops)
        resolved.write.mode("overwrite").parquet(args.out)
        out = spark.read.parquet(args.out)
        print(json.dumps({
            "urls": out.count(),
            "redirected": out.where("hops > 0").count(),
            "unresolved": out.where("NOT resolved").count(),
            "dangling": out.where(
                "resolved AND hops > 0 AND final_status IS NULL"
            ).count(),
            "out": args.out,
        }))
        spark.stop()
        return 0
    if args.cmd == "traps":
        import os

        from pyspark.sql import functions as F

        from .operators.traps import (
            budgets_from_traps,
            flag_trap_stats,
            url_pattern_stats,
        )
        from .plans import get_spark

        if bool(args.warc) == bool(args.pages):
            raise SystemExit("traps: give exactly one of --warc / --pages")
        spark = get_spark(app="warc_spark_traps", master=args.master)
        if args.warc:
            from .sources import read_warc

            caps = (
                read_warc(spark, args.warc, payload_cap=0)
                .where(
                    (F.col("warc_type") == "response")
                    & F.col("target_uri").isNotNull()
                )
                .select(F.col("target_uri").alias("url"))
            )
        else:
            caps = spark.read.parquet(args.pages).select("url")
        stats_out = os.path.join(args.out, "stats")
        budgets_out = os.path.join(args.out, "budgets")
        url_pattern_stats(caps).write.mode("overwrite").parquet(stats_out)
        stats = spark.read.parquet(stats_out)
        flagged = flag_trap_stats(
            stats, args.min_urls, args.min_urls_per_template
        )
        budgets_from_traps(flagged, args.trap_budget).write.mode(
            "overwrite"
        ).parquet(budgets_out)
        print(json.dumps({
            "hosts": stats.count(),
            "flagged": spark.read.parquet(budgets_out).count(),
            "stats": stats_out,
            "budgets": budgets_out,
        }))
        spark.stop()
        return 0
    if args.cmd == "curate":
        from pyspark.sql import functions as F

        from .plans import get_spark

        steps = {s.strip() for s in args.steps.split(",") if s.strip()}
        unknown = steps - {"quality", "exact", "minhash", "hostcap", "pii"}
        if unknown:
            raise SystemExit(f"curate: unknown steps {sorted(unknown)}")
        spark = get_spark(app="warc_spark_curate", master=args.master)
        df = spark.read.parquet(args.docs)
        stats = {"input": df.count()}
        # one count-action per enabled stage (a CLI tool's observability
        # trade; at 100 TB ride these on df.observe), with a LAZY
        # localCheckpoint per stage boundary so downstream stages and the
        # final write consume the stage output, not a re-execution of the
        # whole upstream chain (minhash alone consumes its input 3x)
        cut = lambda d: d.localCheckpoint(eager=False)  # noqa: E731
        if "quality" in steps:
            from .functions.curation import quality_filter_cascade

            if args.lang_col not in df.columns:
                raise SystemExit(
                    f"curate: quality needs a lang column ({args.lang_col!r} "
                    "not in the input) — drop 'quality' from --steps or "
                    "pass --lang-col"
                )
            flagged = quality_filter_cascade(
                df, text_col=args.text_col,
                min_tokens=args.min_tokens,
                langs=tuple(s.strip() for s in args.langs.split(",") if s.strip()),
                lang_col=args.lang_col,
            )
            stats["dropped_by_reason"] = {
                r["reason"]: r["count"]
                for r in flagged.where(~F.col("keep"))
                .groupBy("reason").count().collect()
            }
            df = cut(flagged.where(F.col("keep")).drop("keep", "reason"))
            stats["after_quality"] = df.count()
        if "exact" in steps:
            from .functions.dedup import dedup_exact

            df = cut(dedup_exact(df, id_col=args.id_col, text_col=args.text_col))
            stats["after_exact"] = df.count()
        if "minhash" in steps:
            from .functions.dedup import minhash_lsh_pairs

            pairs = minhash_lsh_pairs(
                df, id_col=args.id_col, text_col=args.text_col,
                jaccard_threshold=args.jaccard,
            )
            dropped = pairs.select(F.col("id_b").alias(args.id_col)).distinct()
            df = cut(df.join(dropped, args.id_col, "left_anti"))
            stats["after_minhash"] = df.count()
        if "hostcap" in steps:
            from .functions.curation import cap_host_frequency

            if args.url_col not in df.columns:
                raise SystemExit(
                    f"curate: hostcap needs a url column ({args.url_col!r} "
                    "not in the input)"
                )
            df = cut(cap_host_frequency(df, args.host_cap, url_col=args.url_col))
            stats["after_hostcap"] = df.count()
        if "pii" in steps:
            from .functions.pii import scrub_pii

            df = scrub_pii(df, text_col=args.text_col, out_col=args.text_col + "_clean")
            stats["pii_replacements"] = (
                df.agg(F.sum("pii_total")).first()[0] or 0
            )
        df.write.mode("overwrite").parquet(args.out)
        stats["rows"] = spark.read.parquet(args.out).count()
        stats["out"] = args.out
        print(json.dumps(stats))
        spark.stop()
        return 0
    if args.cmd == "index":
        from .plans import get_spark

        spark = get_spark(app="warc_spark_index", master=args.master)
        if args.format == "arc":
            from .sources import index_arc_records as indexer
        else:
            from .sources import index_warc_members as indexer
        idx = indexer(spark, args.path)
        idx.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"entries": n, "out": args.out}))
        spark.stop()
        return 0
    from .operators.frontier import FrontierConfig, FrontierEngine
    from .plans import get_spark
    from .plans.snapstore import SnapStore
    from .sources.pages import synth_pages, synth_seeds

    spark = get_spark(app="warc_spark_crawl", master=args.master)
    if args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        pages = synth_pages(spark, args.synth_pages, seed=args.seed)
    if args.seeds_table:
        seeds = spark.read.parquet(args.seeds_table)
    else:
        n_pages = args.synth_pages or pages.count()
        seeds = synth_seeds(spark, n_pages, n_seeds=args.seeds, seed=args.seed)
    robots = spark.read.parquet(args.robots) if args.robots else None
    budgets = None
    if robots is not None and args.batch_seconds:
        from .operators.politeness import budgets_from_crawl_delay

        budgets = budgets_from_crawl_delay(robots, args.batch_seconds)
    if args.budgets_table:
        from pyspark.sql import functions as F

        bt = spark.read.parquet(args.budgets_table).select(
            "host", "max_fetches_per_batch"
        )
        if budgets is not None:
            bt = budgets.unionByName(bt)
        # one row per host ALWAYS (most restrictive wins): flag_politeness
        # left-joins on host, so a duplicate host row — two appended traps
        # runs, or an overlap with the crawl-delay budgets — would
        # otherwise duplicate every frontier row of that host
        budgets = bt.groupBy("host").agg(
            F.min("max_fetches_per_batch").alias("max_fetches_per_batch")
        )

    eng = FrontierEngine(
        spark, pages, SnapStore(args.out), robots=robots, budgets=budgets,
        config=FrontierConfig(
            max_batches=args.batches, default_budget=args.budget,
            normalize_links=args.normalize_links,
            extractor=args.extractor,
        ),
    )
    manifests = eng.run(seeds, resume=args.resume)
    for m in manifests:
        print(json.dumps(m["metrics"]), flush=True)
    total = sum(m["metrics"]["scheduled"] for m in manifests)
    wall = sum(m["metrics"]["wall_sec"] for m in manifests)
    print(json.dumps({"batches": len(manifests), "scheduled": total,
                      "urls_per_sec": round(total / wall, 1) if wall else None}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
