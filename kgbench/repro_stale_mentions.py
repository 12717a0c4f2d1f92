"""Reproduce the stale-mention defect of streaming.incremental.incremental_kg.

Run from the repository root:

    python3 kgbench/repro_stale_mentions.py

A page is crawled, then re-crawled with content that has no dictionary
term.  After the refresh the page should have no mentions.  incremental_kg
replaces mention groups keyed on the urls of the *linked mentions* of the
batch, so a re-crawled page that yields none is not replaced and keeps its
old mentions.  Exit code 1 and "REPRODUCED" when the old mentions survive,
0 when they are gone.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys

from run import ROOT, prepare, start_spark, stop_spark


def main() -> int:
    work = os.path.join(ROOT, ".kgbench_run", "repro-stale-mentions")
    prepare(work)
    from pyspark.sql import functions as F

    from thesaurus_based_ner_spark.functions.text import render_html
    from thesaurus_based_ner_spark.sources.webtext import (
        THESAURUS, WEBTEXT_SCHEMA, make_document, synth_anchor_text, synth_redirects,
    )
    from thesaurus_based_ner_spark.streaming.incremental import incremental_kg

    spark = start_spark(work)
    try:
        def refresh():
            return incremental_kg(
                spark, f"{work}/webtext", f"{work}/catalog", f"{work}/stream",
                dict(THESAURUS), synth_anchor_text(spark, 500), synth_redirects(spark),
            )

        def mentions_of(url: str) -> int:
            return spark.read.parquet(f"{work}/catalog/linked_mentions").filter(
                F.col("url") == url
            ).count()

        docs = [make_document(i) for i in range(20)]
        url = next(d[0] for d in docs if d[4] == "en")
        spark.createDataFrame(docs, WEBTEXT_SCHEMA).write.parquet(f"{work}/webtext")
        refresh()
        before = mentions_of(url)
        text = "Nothing here names a dictionary term."
        spark.createDataFrame(
            [(url, dt.datetime(2024, 6, 1), render_html(text), text, "en")],
            WEBTEXT_SCHEMA,
        ).write.mode("append").parquet(f"{work}/webtext")
        refresh()
        after = mentions_of(url)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    stale = after > 0
    print(f"{url}: {before} mentions before the re-crawl, {after} after "
          f"(expected 0): {'REPRODUCED' if stale else 'not reproduced'}")
    return 1 if stale else 0


if __name__ == "__main__":
    sys.exit(main())
