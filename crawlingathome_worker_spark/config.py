"""Engine configuration: only the values a run chooses.

Scale knobs are config, not code paths (SURVEY.md §7.4): the sandbox runs the same
partitioned layout as the 10^10-URL design point, only with smaller capacities.
What stays here is what a caller sets to a second value:

- the politeness budget (`default_host_budget`, `wave_seconds`), set per run
  by `run_frontier.py --budget` and per fixture by the tests;
- the seen-set mode (`dedup_mode`, `reference_strict`), CLI flags;
- the state sizes (`BloomParams`, `CuckooParams.buckets_per_partition` /
  `partitions`, `bloom_compact_every`), which perfbench and the state tests
  shrink or grow.

Fixed semantics (the reference's blocklist and byte/format thresholds, the
priority seed, the salt count, cuckoo slots and kicks, the bloom fill alarm)
are constants in the one module that reads each.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class BloomParams:
    """Partitioned bloom filter sizing.

    Design point (10^10 keys, FPR 1e-4): m ≈ n*ln(1/p)/ln(2)^2 ≈ 1.917e11 bits
    ≈ 23.9 GB, k = 13 hashes, P = 64 partitions ⇒ ~374 MB/partition.
    Sandbox default: 1e7 capacity, identical layout at P=8.
    """

    capacity: int = 10_000_000
    fpr: float = 1e-4
    partitions: int = 8

    @property
    def total_bits(self) -> int:
        import math

        m = math.ceil(-self.capacity * math.log(self.fpr) / (math.log(2) ** 2))
        # round up so each partition is a whole number of bytes
        per_part = -(-m // self.partitions)
        per_part = -(-per_part // 8) * 8
        return per_part * self.partitions

    @property
    def bits_per_partition(self) -> int:
        return self.total_bits // self.partitions

    @property
    def num_hashes(self) -> int:
        import math

        return max(1, round(self.total_bits / self.capacity * math.log(2)))


@dataclass(frozen=True)
class CuckooParams:
    """Partitioned cuckoo filter for the *deletable* retry-slot subset (north_rule J5).

    Fixes the reference's lost-retry defect (crawlingathome.py:149 bloom-adds
    attempted-but-failed URLs forever — SURVEY.md §2.8 B3).
    """

    buckets_per_partition: int = 1 << 14  # power of two (XOR bucket addressing)
    partitions: int = 8


@dataclass(frozen=True)
class EngineConfig:
    # politeness (north_rule; reference has only an implicit 192-connection cap)
    default_host_budget: int = 64  # scheduled URLs per host per wave when no crawl_delay
    wave_seconds: float = 60.0  # budget = wave_seconds / crawl_delay when delay known
    # dedup mode: "exact" (anti-join vs key table — test oracle path) or "bloom"
    dedup_mode: str = "exact"
    # bloom-state maintenance: each wave appends only its KEY DELTA (small) and
    # the bloom bits are OR-merged at read; after this many deltas the bits are
    # compacted into a new base. At the 24 GB design point this turns a per-wave
    # 24 GB state rewrite into a keys-only append + one compaction per N waves.
    bloom_compact_every: int = 8
    # reference-strict mode: bloom-add *all attempted* keys (lossy, crawlingathome.py:149)
    # vs cuckoo-fixed retries (north_rule default)
    reference_strict: bool = False
    bloom: BloomParams = field(default_factory=BloomParams)
    cuckoo: CuckooParams = field(default_factory=CuckooParams)
