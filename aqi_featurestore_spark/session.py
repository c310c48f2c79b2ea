"""SparkSession factory with scale-oriented defaults.

The reference creates its session ad-hoc with GCS/BigQuery connector jars
(reference: spark/code/write_to_bigquery.py:22-29). Here the session is the
one tuning point for the whole engine; defaults are chosen so the same code
runs on local[N] for tests and on a large cluster unchanged:

- AQE on (runtime join-strategy selection, skew-join splitting, partition
  coalescing) so plans adapt when data is 1000x bigger.
- ``spark.sql.session.timeZone=UTC`` pinned — the reference mixes naive-UTC
  offline timestamps with Asia/Ho_Chi_Minh online timestamps (SURVEY.md §7
  hard part 3); we make UTC canonical and convert explicitly at boundaries.
- Arrow enabled for the few Pandas-UDF code paths (similarity search,
  multimodal decode) — vectorized transfer instead of row pickling.
- shuffle partitions default to cluster parallelism (overridable via env).
- the whole-stage codegen cache sized to the engine's working set (see
  ``CODEGEN_CACHE_ENTRIES``). Spark keeps one codegen cache per JVM and
  sizes it from the conf active when the first plan is compiled, so the
  first session to compile decides for every session in the JVM: a plain
  ``SparkSession.builder`` session created after ``get_spark`` also gets
  this size, and where a plain session compiled first (a driver that
  builds its own session), the setting has no effect and the cache keeps
  Spark's 100.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries``. Spark's default of 100 is an LRU
#: smaller than the set of classes one workload cycles through, so each
#: class is evicted before its next use and recompiled with Janino (median
#: 11 ms, mean 20 ms per class on local[2] of a 4-vCPU machine, plus JIT and
#: metaspace GC). Distinct generated classes, counted as Janino
#: compilations with a cache too large to evict: the store benchmark's
#: set-up 111, then 2-4 per cycle; curation set-up 132, then none per pass;
#: a full ``scripts/check_correctness.py`` run at sf0.001 (all 228 queries
#: in one session), 3323. 1000 holds any one workload's working set; a
#: full registry sweep still evicts, which only costs recompilation.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "aqi_featurestore_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's canonical config.

    On a real cluster, pass ``master=None`` and let spark-submit decide;
    locally defaults to ``local[$SPARK_GRAFT_CPUS or *]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Default 4 MiB open-cost quantizes small files into few splits; a
        # 12 MiB single-file table would scan on 3 cores out of 32. 256 KiB
        # keeps small-table scans parallel and is irrelevant for TB-scale
        # files (split size there is governed by maxPartitionBytes).
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
