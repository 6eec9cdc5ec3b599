"""Seeded inputs and the oracle gate.

A workload's input is a ``WalSpec`` log generated by ``sources.wal`` from the
run's seed and written as offset-ordered parquet segments. The expected final
lake, ``tests/oracle.py``'s ``reduce_wal`` over the same log, is computed once
per (workload, shape, seed) and cached beside the log, so neither generation
nor the oracle is ever inside a timed section.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from debezium_spark.sources import wal as W
from tests.oracle import reduce_wal, state_hashes

# Evict the oldest cached inputs beyond this many (each is a few MB).
CACHE_KEEP = 12
# The 4-table log carries the repos payload minus commit/size_bytes as JSON.
MULTI4_DDL = "repo string, path string, lang string, content string"
MULTI4_TABLES = tuple(f"t{i}" for i in range(4))
_VERSION = 3  # bump when the cached layout changes


@dataclass(frozen=True)
class Shape:
    """Log size and layout. Every log has ~10 change events per key (see
    WalSpec for the mix: 1% hot keys take half the events, 15% deletes with
    tombstones, 5% PK changes, 1% duplicate offsets, two schema changes)."""

    n_keys: int
    n_segments: int
    multi4: bool = False

    def spec(self, seed: int) -> W.WalSpec:
        return W.WalSpec(n_keys=self.n_keys, n_events=10 * self.n_keys, seed=seed)


@dataclass
class Inputs:
    wal: str                         # parquet directory the engine reads
    segments: list[str]              # segment file names, offset order
    seg_rows: list[int]              # change events per segment
    seg_lo: list[int]                # lowest offset per segment
    n_events: int                    # change events in the whole log
    wal_bytes: int                   # on-disk size of the log's segments
    oracle: dict[str, set[tuple[str, str, str]]]  # table -> (repo, path, sha256)
    lookups: dict[str, list[tuple[str, str]]]     # table -> keys the lake probe reads
    spec: W.WalSpec

    def schema_history(self, spark):
        return W.schema_history(spark, self.spec)


def _oracle_sets(pdf) -> set[tuple[str, str, str]]:
    return state_hashes(reduce_wal(pdf))


def _generate(spark, shape: Shape, seed: int, out: str) -> dict:
    spec = shape.spec(seed)
    src = os.path.join(out, "wal1")
    W.write_wal(spark, spec, src, n_files=shape.n_segments)
    log = spark.read.parquet(src)
    if shape.multi4:
        table = F.concat(
            F.lit("t"), F.pmod(F.xxhash64("repo", "path"), F.lit(4)).cast("string")
        )
        log = log.withColumn("table", table)
        # Same wire shape as bench.py's ensure_multi4_wal, range-partitioned
        # so that file order stays offset order.
        (
            log.repartitionByRange(shape.n_segments + 1, "offset").select(
                "offset", "ts_ms", "op", "table",
                F.to_json(F.struct("repo", "path")).alias("key_json"),
                F.to_json(F.col("before")).alias("before_json"),
                F.to_json(F.col("after")).alias("after_json"),
                "is_tombstone", "tx_id", "schema_version",
            )
            .write.parquet(os.path.join(out, "wal"))
        )
    cols = ["offset", "is_tombstone", "op", "repo", "path", "after"]
    pdf = log.select(*cols, *(["table"] if shape.multi4 else [])).toPandas()
    if shape.multi4:
        oracle = {t: _oracle_sets(pdf[pdf["table"] == t]) for t in MULTI4_TABLES}
        shutil.rmtree(src)
    else:
        oracle = {"": _oracle_sets(pdf)}
        os.rename(src, os.path.join(out, "wal"))
    wal = os.path.join(out, "wal")
    segs = sorted(f for f in os.listdir(wal) if f.endswith(".parquet"))
    seg_rows, seg_lo = [], []
    for f in segs:
        offsets = pq.read_table(os.path.join(wal, f), columns=["offset"]).column(0)
        seg_rows.append(len(offsets))
        seg_lo.append(offsets[0].as_py())  # segments are offset-ordered inside
    rng = random.Random(seed)
    lookups = {
        t: [list(k) for k in rng.sample(sorted((r, p) for r, p, _ in hs), min(8, len(hs)))]
        for t, hs in oracle.items()
    }
    return {
        "segments": segs,
        "seg_rows": seg_rows,
        "seg_lo": seg_lo,
        "n_events": int(len(pdf)),
        "wal_bytes": sum(os.path.getsize(os.path.join(wal, f)) for f in segs),
        "oracle": {t: sorted(list(x) for x in hs) for t, hs in oracle.items()},
        "lookups": lookups,
    }


def _evict(cache: str) -> None:
    entries = sorted(
        (os.path.getmtime(os.path.join(cache, d)), d)
        for d in os.listdir(cache)
        if os.path.isdir(os.path.join(cache, d))
    )
    for _, d in entries[: max(0, len(entries) - CACHE_KEEP + 1)]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


def ensure_inputs(spark, cache: str, workload: str, shape: Shape, seed: int) -> Inputs:
    """The (cached) log and oracle of ``workload`` at ``seed``."""
    key = f"{workload}-k{shape.n_keys}-g{shape.n_segments}-s{seed}-v{_VERSION}"
    d = os.path.join(cache, key)
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        _evict(cache)
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = _generate(spark, shape, seed, tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(meta_path) as f:
        meta = json.load(f)
    return Inputs(
        wal=os.path.join(d, "wal"),
        segments=meta["segments"],
        seg_rows=meta["seg_rows"],
        seg_lo=meta["seg_lo"],
        n_events=meta["n_events"],
        wal_bytes=meta["wal_bytes"],
        oracle={t: {tuple(x) for x in v} for t, v in meta["oracle"].items()},
        lookups={t: [tuple(k) for k in v] for t, v in meta["lookups"].items()},
        spec=shape.spec(seed),
    )


def lake_hashes(lake) -> set[tuple[str, str, str]]:
    """(repo, path, sha256(content)) of every live row of a LakeTable."""
    rows = (
        lake.read()
        .select("repo", "path", F.sha2(F.coalesce(F.col("content"), F.lit("")), 256))
        .collect()
    )
    return {(r[0], r[1], r[2]) for r in rows}
