"""Session + pipeline configuration.

Mirrors the reference's fixed-at-construction config discipline
(theta/sketch.rs:919-1027 builder, hll/sketch.rs:90-103): every sketch and
every pipeline stage takes an explicit, hashable config so that merge-time
compatibility can be enforced (the reference rejects mismatched seed hashes,
theta/intersection.rs:81-87; we embed a config fingerprint in checkpoint
metadata for the same reason).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, asdict

DEFAULT_SEED = 9001  # reference contract: hash/mod.rs:61 (DEFAULT_UPDATE_SEED)


@dataclass(frozen=True)
class DedupConfig:
    """Shingle/signature config shared by the Spark pipeline and the numpy
    oracle. Recall is only meaningful when both sides run the identical
    config (BASELINE.json north_rule: "at the same shingle/signature
    config")."""

    seed: int = DEFAULT_SEED
    shingle_k: int = 5          # character-shingle width (bytes of UTF-8)
    num_perm: int = 128         # MinHash permutations (north_star: 128)
    lsh_bands: int = 32         # b
    lsh_rows: int = 4           # r ; b*r must equal num_perm
    jaccard_threshold: float = 0.8
    simhash_hamming: int = 3    # max Hamming distance for visual near-dup
    # LSH bucket cap: buckets above this degrade to a star topology around
    # their min-id representative (O(size) edges, component stays
    # connected) instead of the quadratic self-join — see operators/lsh.py
    max_bucket_size: int = 512
    # candidate pairs must co-bucket in >= this many UNCAPPED bands before
    # the exact verify. With b=32/r=4 a true pair at j=0.8 matches ~13
    # bands (P[<2 matches] ~ 5e-7), while the bulk of false candidates
    # (j~0.4) match exactly 1 — this prunes the verify stage ~10x at no
    # measurable recall cost. Star edges from capped (hot) buckets bypass
    # the requirement: their collisions were never counted, so demanding
    # cold-band evidence from them would re-introduce the hot-cluster
    # recall hole. Set to 1 to restore any-band semantics.
    min_band_matches: int = 2

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.num_perm:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows}) "
                f"must equal num_perm ({self.num_perm})"
            )

    def fingerprint(self) -> str:
        """16-bit-style config fingerprint, analog of compute_seed_hash
        (hash/mod.rs:72-81): embedded in checkpoint metadata; merges across
        mismatched configs are rejected."""
        import hashlib
        payload = repr(sorted(asdict(self).items())).encode()
        return hashlib.sha256(payload).hexdigest()[:16]


def spark_session(app: str = "datasketches-rust-spark", cpus: int | None = None,
                  shuffle_partitions: int | None = None):
    """Local SparkSession tuned the way the real cluster would be:
    AQE on (coalescing + skew-join split), Arrow on, sensible batch sizes.

    On a real 1000-executor cluster the same confs apply; only master()
    changes (spark-submit supplies it).
    """
    from pyspark.sql import SparkSession

    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cpus)

    # the custom worker daemon (datasketches_rust_spark.daemon) must be
    # importable by the python processes the JVM spawns
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (repo_root + os.pathsep + existing
                                    if existing else repo_root)

    # Shuffle/spill dir: default (/tmp). Measured on this sandbox: tmpfs
    # is 14x SLOWER than /tmp for fresh writes (shmem page allocation IS
    # the ~0.5 ms/4KiB fault slow-path; the ext4 page cache recycles hot
    # pages cheaply), and the kernel grants no huge shmem pages even on a
    # huge=always mount — so RAM-disk shuffle is a pessimization here.
    # Override with SPARK_GRAFT_LOCAL_DIR on hosts with NVMe local dirs.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE stays on by default (runtime coalescing + skew-join splits
        # are part of the 100 TB story). SPARK_GRAFT_AQE=false exists for
        # local-mode measurement: AQE materializes every query stage as
        # its own job, and each job carries a fixed cost (an empty 4-task
        # mapInArrow job on a 4-core VM: ~0.003 CPU-s driver, 0.13-0.28
        # JVM, 0.17-0.18 Python workers before the daemon froze its heap
        # and 0.01 after, so the JVM's ~0.1 CPU-s per job is the floor)
        # — sequential stages put that on the critical path. Skew is
        # independently handled by the explicit hot-bucket star degrade.
        .config("spark.sql.adaptive.enabled",
                os.environ.get("SPARK_GRAFT_AQE", "true"))
        # preload numpy/pandas/pyarrow + kernels in the daemon so forked
        # workers inherit resident modules (worker cold-start is seconds to
        # tens of seconds on virtualized kernels otherwise)
        .config("spark.python.daemon.module",
                "datasketches_rust_spark.daemon")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # the LSH/SimHash band self-joins dominate CPU as sort-merge joins
        # (two 10^8-row sorts); hash joins on the equi band key are ~2x
        # cheaper, and AQE's skew handling still applies
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large binary image columns through Arrow: bound batch size so a
        # batch of (bytes, caption) rows stays well under worker memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # shuffle WRITE time dominates the band-join stages (taskSummary:
        # ~9 s of a 10 s median task). Bigger write/compression buffers
        # mean fewer syscalls and fewer fresh page touches per spill —
        # the same tuning a real cluster with fast local disks wants
        .config("spark.shuffle.file.buffer", "1m")
        .config("spark.shuffle.unsafe.file.output.buffer", "1m")
        # shuffle/spill/broadcast codec: the band self-joins and the pair
        # exchange are bandwidth-bound (shared DRAM locally, network on a
        # real cluster), so trading compression CPU for bytes is the right
        # default for a shuffle-heavy dedup job; zstd at level 1 compresses
        # the long-packed band/pair rows ~1.6-2x tighter than lz4 at
        # GB/s-class speeds
        .config("spark.io.compression.codec", "zstd")
        .config("spark.io.compression.zstd.level", "1")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # page faults cost ~0.5 ms/4KiB on this kernel and the fault path
        # serializes under many-core load (98% sys time at local[32]).
        # madvise'd transparent huge pages cut heap faults 512x, and
        # pre-touching at -Xms moves the rest to JVM startup (outside any
        # warm measurement). numpy already madvises >=4 MB buffers, so the
        # python side is covered by default.
        # GC/JIT thread counts follow the core allotment, like a real
        # executor JVM sized by spark.executor.cores — without this a
        # local[2] session on a 32-core box gets ~25 GC threads serving 2
        # mutators, a free speedup no 2-core executor ever sees (skews any
        # cross-core-count comparison)
        .config("spark.driver.extraJavaOptions",
                "-Xms" + os.environ.get("SPARK_DRIVER_MEMORY", "8g")
                + " -XX:+UseTransparentHugePages -XX:+AlwaysPreTouch"
                + f" -XX:ParallelGCThreads={max(2, cpus)}"
                + f" -XX:ConcGCThreads={max(1, cpus // 4)}")
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    return builder.getOrCreate()
