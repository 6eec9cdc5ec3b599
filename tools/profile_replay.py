"""Phase-level profile of one pinned replay leg.

Times each driver-observed phase of the bench replay (bounds scan, transform+
lineage, merge join+write, manifest) and samples process-tree CPU jiffies so
each phase reports its parallel utilization: cpu_time / (wall * n_cores).
A phase with utilization << 1 on the high-core leg is the Amdahl term that
caps scaling efficiency.

Usage: taskset -c 0-7 python tools/profile_replay.py 8 [sf]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(sys.argv[1]) if len(sys.argv) > 1 else 8
SF = sys.argv[2] if len(sys.argv) > 2 else "3"
os.environ.setdefault("BENCH_SHUFFLE_PARTITIONS", "64")
os.environ.setdefault("BENCH_DRIVER_MEM", "24g")

import bench  # noqa: E402


def cpu_jiffies() -> float:
    """Total utime+stime jiffies across this process and every descendant
    (the Spark JVM is a child of the Python driver in local mode... it is
    actually the same JVM via py4j in-process? No: pyspark launches a child
    java process). Sum over /proc/<pid>/stat for the whole tree."""
    total = 0.0
    me = os.getpid()
    # walk all pids, keep those whose ancestry includes us
    parents = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            parents[int(pid)] = (int(parts[1]), float(parts[11]) + float(parts[12]))
        except (OSError, IndexError, ValueError):
            continue

    def is_desc(pid: int) -> bool:
        seen = set()
        while pid and pid not in seen:
            if pid == me:
                return True
            seen.add(pid)
            pid = parents.get(pid, (0, 0))[0]
        return False

    for pid, (ppid, jif) in parents.items():
        if is_desc(pid):
            total += jif
    return total


class Phase:
    def __init__(self):
        self.rows = []

    def __call__(self, name):
        return _Timer(self, name)


class _Timer:
    def __init__(self, p, name):
        self.p, self.name = p, name

    def __enter__(self):
        self.t0, self.j0 = time.time(), cpu_jiffies()
        return self

    def __exit__(self, *a):
        wall = time.time() - self.t0
        cpu = (cpu_jiffies() - self.j0) / os.sysconf("SC_CLK_TCK")
        util = cpu / (wall * CPUS) if wall > 0 else 0
        self.p.rows.append((self.name, wall, cpu, util))
        print(f"{self.name:<28} wall={wall:8.2f}s cpu={cpu:8.1f}s util={util:5.2f}",
              flush=True)


def main():
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from debezium_spark import CdcEngine, EngineConfig
    from debezium_spark.sources import wal as W

    ph = Phase()
    with ph("spark_startup"):
        spark = bench.build_spark(CPUS)
        spark.sparkContext.setLogLevel("ERROR")
    n_keys, n_events = bench.WAL_SCALE[SF]
    with ph("ensure_wal"):
        wal_dir = bench.ensure_wal(spark, SF)
    with ph("warm_count"):
        n_rows = spark.read.parquet(wal_dir).count()
    work = tempfile.mkdtemp(prefix="dbzprof-", dir=bench.BENCH_ROOT)
    spec = W.WalSpec(n_keys=n_keys, n_events=n_events, seed=42)
    with ph("engine_init+create"):
        eng = CdcEngine(
            spark,
            EngineConfig(
                max_offsets_per_batch=n_events * 8 + n_keys,
                target_buckets=32,
            ),
            wal_path=wal_dir,
            target_path=os.path.join(work, "target"),
            work_dir=os.path.join(work, "work"),
            schema_changes=W.schema_history(spark, spec),
        )
        lake = eng.target()
    with ph("wal_bounds"):
        wal = eng._wal()
        bounds = wal.agg(F.min("offset").alias("lo"), F.max("offset").alias("hi")).collect()[0]
    lo, hi = -1, int(bounds["hi"])
    slice_df = wal.where((F.col("offset") > lo) & (F.col("offset") <= hi))
    with ph("registry"):
        reg = eng.registry()
        for change in reg.pending_upto(hi):
            reg.apply_to_lake(lake, change)
    with ph("transform_plan_analysis"):
        actions = eng._transform(slice_df, upto_offset=hi)
        actions.schema  # force analysis
    with ph("persist+lineage_agg"):
        actions = actions.persist()
        from debezium_spark.plans.lake import bucket_expr

        nb = lake.n_buckets
        lineage = (
            actions.withColumn("_bucket", bucket_expr(F.col("repo"), nb))
            .groupBy("_bucket")
            .agg(
                F.max("_offset").alias("max_offset"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
    with ph("merge_join+write"):
        res = lake.merge(
            actions, batch_id=0, max_offset=hi,
            touched_buckets=[int(r["_bucket"]) for r in lineage],
        )
    with ph("unpersist+final_count"):
        actions.unpersist()
        final_rows = lake.read().count()
    total = sum(r[1] for r in ph.rows)
    replay_phases = [r for r in ph.rows if r[0] not in
                     ("spark_startup", "ensure_wal", "warm_count")]
    replay_wall = sum(r[1] for r in replay_phases)
    print(f"\nTOTAL wall {total:.1f}s; replay phases {replay_wall:.1f}s; "
          f"events={n_rows:,} final_rows={final_rows:,} "
          f"events/s={n_rows / replay_wall:,.0f} cpus={CPUS}")
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
