"""The one measurement harness behind `bench.py` and the probe tools,
so a probe's isolated per-key time measures what the bench measures.
Importing it loads the query registry; no Spark starts until
``fresh_session`` is called.
"""

import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from reports_generator_spark.plans import registry, relational, scale_joins  # noqa: E402
from reports_generator_spark.session import get_spark, tune  # noqa: E402

registry.load_all()

#: Contention sentinel: one fixed, cheap, plan-stable key
#: (scan+filter+agg — historically the clearest host-steal canary:
#: 0.30 s quiet, 1.3 s+ under steal with zero plan changes). A reader
#: can then separate a contention window (sentinel inflated) from a
#: plan regression (sentinel flat, key slow) without cross-run
#: archaeology. Sentinel runs are extra executions; they never replace
#: a key's own timing.
SENTINEL = "q6_forecast_revenue"


def _noop(df) -> None:
    """Run the full plan: a bare count() would let Catalyst prune projections."""
    df.write.format("noop").mode("overwrite").save()


def warm_python_datasource_streaming(spark) -> None:
    """Warm the Python-DataSource STREAMING machinery (same category as
    the Arrow-pool warmup in fresh_session): the first streaming query
    in a JVM whose source or sink is a Python DataSource pays a
    one-time runner/engine init (streaming-engine classes, the
    python-streaming-source runner bootstrap, offset/commit-log
    codepaths) measured at ~9 s — a per-JVM cost that otherwise lands
    on whichever registered key happens to follow a JVM restart,
    timing bench position instead of the key's plan. The warmup
    datasource is a trivial one-row reader/discarding writer defined
    HERE; registered keys still register and run their own connector
    machinery inside their timed region."""
    from pyspark.sql import datasource as ds

    class _WarmReader(ds.DataSourceStreamReader):
        def initialOffset(self):
            return {"offset": 0}

        def latestOffset(self):
            return {"offset": 1}

        def partitions(self, start, end):
            return [ds.InputPartition(start["offset"])]

        def read(self, partition):
            yield (partition.value,)

    class _WarmWriter(ds.DataSourceStreamWriter):
        def write(self, iterator):
            for _ in iterator:
                pass
            return ds.WriterCommitMessage()

    class _WarmStreamDS(ds.DataSource):
        @classmethod
        def name(cls) -> str:
            return "bench_warm_pyds_stream"

        def schema(self) -> str:
            return "v int"

        def streamReader(self, schema):
            return _WarmReader()

        def streamWriter(self, schema, overwrite):
            return _WarmWriter()

    spark.dataSource.register(_WarmStreamDS)
    ckpt = tempfile.mkdtemp(prefix="bench_warm_pyds_")
    try:
        name = _WarmStreamDS.name()
        writer = spark.readStream.format(name).load().writeStream.format(name)
        writer = writer.option("checkpointLocation", ckpt).trigger(availableNow=True)
        writer.start().awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def fresh_session(app: str, sf_dir: str, cpus, extra_conf: dict[str, str] | None = None):
    """Build and warm a ``local[cpus]`` session. Every warmup runs
    OUTSIDE the timed sections: codegen for the hottest plan shape, the
    Arrow worker pool, the Python-DataSource streaming runner and the
    write-once table layouts."""
    spark = get_spark(app, master=f"local[{cpus}]", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    _noop(registry.QUERIES["agg_hash_group"](spark, sf_dir))
    # warm the Python/Arrow worker pool on every core (mapInPandas
    # queries otherwise pay ~10s of daemon spawn on their first run)
    par = spark.sparkContext.defaultParallelism
    _noop(spark.range(0, par * 4).repartition(par).mapInPandas(lambda it: it, "id long"))
    warm_python_datasource_streaming(spark)
    # the bucketed layout (join_bucketed_colocated), the partitioned
    # fact + dim (DPP) and the Morton-prefix and zonemap layouts are
    # write-once ingest costs amortized over every read, so the keys
    # that read them time the read, not the layout build
    relational.ensure_bucketed_tables(spark, sf_dir)
    scale_joins.ensure_dpp_tables(spark, sf_dir)
    scale_joins.ensure_zorder_table(spark, sf_dir)
    scale_joins.ensure_zonemap_table(spark, sf_dir)
    return spark


def settle(spark) -> None:
    """Drain the predecessors' JVM debt OUTSIDE the timed section. A
    System.gc() enqueues ContextCleaner work (shuffle/broadcast/
    checkpoint-block removal) that otherwise runs asynchronously DURING
    the next query — measured +5-8 s on multi-job iterative queries
    (r3's dedup_cluster_cc 4.9→10 s "regression" was exactly this, not
    a plan change). gc → let the cleaner drain → absorb one scheduling
    hiccup → gc again."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(1.0)
    spark.range(1).count()
    jvm.System.gc()


def time_key(spark, sf_dir: str, name: str) -> float:
    """Seconds to build key ``name`` and run it into the ``noop`` sink,
    its jobs under a job group named after the key; -1.0 (and one
    stderr line) if it raises, so a failing key never hides the rest."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    t0 = time.perf_counter()
    try:
        _noop(registry.QUERIES[name](spark, sf_dir))
        return round(time.perf_counter() - t0, 3)
    except Exception as exc:
        print(f"BENCH-ERROR {name}: {exc}", file=sys.stderr)
        return -1.0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # conf-mutating keys stay degraded until their lazy frame
        # executes (the save above); restore HERE so no key depends
        # on a next key's tune() running
        tune(spark)


def time_sentinel(spark, sf_dir: str) -> float:
    return time_key(spark, sf_dir, SENTINEL)
