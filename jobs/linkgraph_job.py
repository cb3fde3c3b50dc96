"""Host link-graph job: raw pages → host edge list + PageRank ranks.

    python tools/package.py                       # → dist/engine.zip
    spark-submit --master <cluster> \\
        --py-files dist/engine.zip \\
        jobs/linkgraph_job.py \\
        --input  /path/to/pages_parquet \\
        --edges  /path/to/host_edges \\
        --ranks  /path/to/host_ranks \\
        [--iterations 5] [--damping 0.85] \\
        [--trust-seeds good.com,ref.org --trust-ranks /path/to/trust]

The producer for corpus_job's ``--host-ranks`` quality prior: anchors
are harvested from the raw html scan-stage (pure JVM regex — no
kernel, no Python), aggregated to host-grain edges (one shuffle), and
power-iterated to PageRank (one bounded join per round over host-grain
frames; see operators/linkgraph.pagerank for the 100 TB shape). The
edge table commits first and the iteration reads it back, so a rank
re-run never repeats the harvest scan.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--edges", required=True)
    ap.add_argument("--ranks", required=True)
    ap.add_argument("--iterations", type=int, default=5)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument(
        "--input-format", choices=("pages", "pdf"), default="pages",
        help="'pages' = (url, html) parquet, anchors harvested by the"
        " scan-stage regex; 'pdf' = (url, data) PDF blobs, /URI link"
        " actions harvested by sources/pdf.pdf_outlinks — the link"
        " graph sees PDF documents too",
    )
    ap.add_argument(
        "--python-parallelism", type=int, default=None,
        help="python-task parallelism floor for the pdf lane's codec stage",
    )
    ap.add_argument(
        "--drop-nofollow", action="store_true",
        help="drop edges whose anchor carries rel=nofollow or whose"
        " page declares meta robots nofollow (operators/linkgraph."
        "outlinks_flagged) — comment/forum spam stops minting"
        " PageRank. html input only",
    )
    ap.add_argument(
        "--redirects", default=None,
        help="parquet of pages with (url, http_status, location) — the"
        " WARC pages shape; outlink targets are rewritten through the"
        " resolved redirect chains (operators/redirects) so edges"
        " point at final resources, not hop-one aliases",
    )
    ap.add_argument(
        "--trust-seeds", default=None,
        help="comma-separated trusted hosts, or a parquet path with a"
        " 'node' column; enables the TrustRank pass (--trust-ranks)",
    )
    ap.add_argument(
        "--trust-ranks", default=None,
        help="output path for TrustRank scores (requires --trust-seeds)",
    )
    args = ap.parse_args()
    if not 0.0 < args.damping < 1.0:
        ap.error("--damping must be in (0, 1)")
    if (args.trust_seeds is None) != (args.trust_ranks is None):
        ap.error("--trust-seeds and --trust-ranks go together")

    from ocrd_segment_spark.operators.linkgraph import (
        host_edges,
        outlinks,
        pagerank,
        trustrank,
    )
    from ocrd_segment_spark.session import submit_session

    spark = submit_session("ocrd-segment-linkgraph")
    pages = spark.read.parquet(args.input)
    if args.input_format == "pdf":
        if args.drop_nofollow:
            ap.error("--drop-nofollow reads html anchors and cannot"
                     " run on --input-format pdf")
        from ocrd_segment_spark.sources.pdf import pdf_outlinks

        ol = pdf_outlinks(
            pages, python_parallelism=args.python_parallelism
        )
    elif args.drop_nofollow:
        from pyspark.sql import functions as F

        from ocrd_segment_spark.operators.linkgraph import outlinks_flagged

        ol = outlinks_flagged(pages).filter(~F.col("nofollow")).drop(
            "nofollow"
        )
    else:
        ol = outlinks(pages)
    if args.redirects is not None:
        from pyspark.sql import functions as F

        from ocrd_segment_spark.functions.urls import host_of
        from ocrd_segment_spark.operators.redirects import (
            redirect_edges,
            resolve_redirects,
        )

        resolved = resolve_redirects(
            redirect_edges(spark.read.parquet(args.redirects))
        ).filter("resolved").select("src_url", "final_url")
        # rewrite edge targets through the chain map; the map is
        # 3xx-grain (far below edge grain) and joins on the href key.
        # dst_host is re-derived for REWRITTEN rows only — outlinks
        # already resolved relative/protocol-relative hrefs against
        # the page base, and host_of over those raw values would
        # fabricate ''-host edges (review finding).
        ol = (
            ol.join(resolved, ol.href == resolved.src_url, "left")
            .withColumn(
                "dst_host",
                F.when(
                    F.col("final_url").isNotNull(), host_of("final_url")
                ).otherwise(F.col("dst_host")),
            )
            .withColumn("href", F.coalesce("final_url", "href"))
            .drop("src_url", "final_url")
        )
    edges = host_edges(ol)
    edges.write.mode("overwrite").parquet(args.edges)
    # ranks iterate over the COMMITTED edge table (post-write pattern:
    # each PageRank round re-reads edges, so reading committed parquet
    # beats re-running the harvest scan per round)
    committed = spark.read.parquet(args.edges)
    ranks = pagerank(
        committed, iterations=args.iterations, damping=args.damping
    )
    ranks.write.mode("overwrite").parquet(args.ranks)
    if args.trust_seeds is not None:
        if "," in args.trust_seeds or "/" not in args.trust_seeds:
            seeds = spark.createDataFrame(
                [(s.strip(),) for s in args.trust_seeds.split(",") if s.strip()],
                "node string",
            )
        else:
            seeds = spark.read.parquet(args.trust_seeds).select("node")
        trust = trustrank(
            committed,
            seeds,
            iterations=args.iterations,
            damping=args.damping,
        )
        trust.write.mode("overwrite").parquet(args.trust_ranks)
    spark.stop()


if __name__ == "__main__":
    main()
