"""Scale probe for the round-6 web operators: html_blocks / extract_text,
extract_links, robots_filter, parse_warc_records, dsir_select at 500k
synthetic pages (10x the sf0.1 gate scale) on local[N].

Usage: python scripts/web_scale_probe.py [n_pages] [cores]
Prints one line per operator: rows, wall seconds, pages/sec.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from itext2kg_spark.session import get_spark


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    spark = get_spark(cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")

    d = F.col("id")
    words = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (d % 40) + 10),
            lambda i: F.concat(F.lit("w"), ((d * 31 + i) % 9973).cast("string")),
        ),
        " ",
    )
    docs = (
        spark.range(n, numPartitions=cores * 4)
        .select(
            d.alias("doc_id"),
            words.alias("text"),
            F.lit("en").alias("lang"),
            F.concat(F.lit("src"), (d % 5).cast("string")).alias("source"),
        )
        .localCheckpoint(eager=True)  # pin the input out of the timing
    )

    from itext2kg_spark.extract.boilerplate import extract_text, html_blocks
    from itext2kg_spark.extract.links import extract_links
    from itext2kg_spark.functions.dsir import dsir_select
    from itext2kg_spark.functions.robots import parse_robots, robots_filter
    from itext2kg_spark.sources.pages import pages_from_documents
    from itext2kg_spark.sources.warc import parse_warc_records, synth_warc

    pages = pages_from_documents(docs).localCheckpoint(eager=True)

    def probe(name, df):
        t0 = time.monotonic()
        rows = df.count()
        dt = time.monotonic() - t0
        print(f"{name:22s} rows={rows:>9d} wall={dt:7.2f}s pages/s={n/dt:>10.0f}",
              flush=True)
        return dt

    probe("html_blocks", html_blocks(pages))
    probe("extract_text", extract_text(pages))

    dd = F.col("doc_id")
    link_html = F.encode(
        F.concat(
            F.lit('<html><body><a href="doc'), ((dd * 7 + 3) % 500).cast("string"),
            F.lit('.html">a</a><a href="/top/'), (dd % 10).cast("string"),
            F.lit('">b</a><a href="https://ext'), (dd % 5).cast("string"),
            F.lit('.example.org/p">c</a></body></html>'),
        ),
        "UTF-8",
    )
    link_pages = docs.select(
        F.concat(F.lit("http://h"), (dd % 1000).cast("string"),
                 F.lit(".example.com/d/"), dd.cast("string"), F.lit(".html")).alias("url"),
        link_html.alias("html"),
    ).localCheckpoint(eager=True)
    probe("extract_links", extract_links(link_pages))

    k = F.col("k")
    robots = (
        spark.range(1000)
        .select(F.col("id").alias("k"))
        .select(
            F.concat(F.lit("h"), k.cast("string"), F.lit(".example.com")).alias("host"),
            F.concat(
                F.lit("User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"),
                F.when(k % 3 == 0,
                       F.lit("User-agent: mybot\nDisallow: /d/\n")).otherwise(F.lit("")),
            ).alias("body"),
        )
    )
    rules = parse_robots(robots, agent="mybot").localCheckpoint(eager=True)
    urls = link_pages.select("url")
    probe("robots_filter", robots_filter(urls, rules))

    warc = synth_warc(docs, group=1000).localCheckpoint(eager=True)
    probe("parse_warc_records", parse_warc_records(warc))

    probe(
        "dsir_select_k10k",
        dsir_select(
            docs.where(dd % 17 != 0), docs.where(dd % 17 == 0),
            k=10_000, n_buckets=4096,
        ),
    )


if __name__ == "__main__":
    main()
