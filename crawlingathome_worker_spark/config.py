"""Engine configuration.

Scale knobs are config, not code paths (SURVEY.md §7.4): the sandbox runs the same
partitioned layout as the 10^10-URL design point, only with smaller capacities.
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
    slots_per_bucket: int = 4
    partitions: int = 8
    max_kicks: int = 500


@dataclass(frozen=True)
class EngineConfig:
    seed: int = 42
    # parse-stage blocklist — exact substrings from crawlingathome.py:40
    blocklist: tuple[str, ...] = (
        ".svg",
        ".gif",
        ".ico",
        "data:image",
        "javascript:",
        "mailto:",
    )
    max_url_len: int = 2048  # crawlingathome.py:74
    min_image_bytes: int = 5000  # crawlingathome.py:103
    allowed_formats: tuple[str, ...] = ("JPEG", "PNG", "WEBP")  # crawlingathome.py:110
    # politeness (north_rule; reference has only an implicit 192-connection cap)
    default_host_budget: int = 64  # scheduled URLs per host per wave when no crawl_delay
    wave_seconds: float = 60.0  # budget = wave_seconds / crawl_delay when delay known
    salt_buckets: int = 16  # host-salting for hot-domain skew (SURVEY.md §4 O1)
    # CLIP-proxy score threshold (deterministic stub scorer; see functions/udfs.py)
    clip_threshold: float = -1.0  # keep-all by default; tests pin specific values
    # dedup mode: "exact" (anti-join vs key table — test oracle path) or "bloom"
    dedup_mode: str = "exact"
    # bloom-state maintenance: each wave appends only its KEY DELTA (small) and
    # the bloom bits are OR-merged at read; after this many deltas the bits are
    # compacted into a new base. At the 24 GB design point this turns a per-wave
    # 24 GB state rewrite into a keys-only append + one compaction per N waves.
    bloom_compact_every: int = 8
    # saturation alarm: each committed bloom wave emits the parsed bloom's
    # fill ratio (fraction of set bits vs the DESIGN total) in its manifest;
    # past this threshold the wave WARNs — an over-filled bloom silently
    # raises FPR, and a false "seen" silently drops candidates forever. At
    # an optimally-sized filter the fill at rated capacity is 1 - e^(-ln 2)
    # = 0.5, so crossing 0.5 means the filter is at/beyond design capacity.
    bloom_warn_fill: float = 0.5
    # Simulation shim: with no live network, a fetch is a join against the pairs
    # table on image_id. When the input (raw WAT lines) carries no image_id
    # column, it is recovered from the URL path by this regex — the stand-in for
    # "the URL identifies the image you GET".
    image_id_regex: str = r"(img\d{8})"
    # reference-strict mode: bloom-add *all attempted* keys (lossy, crawlingathome.py:149)
    # vs cuckoo-fixed retries (north_rule default)
    reference_strict: bool = False
    bloom: BloomParams = field(default_factory=BloomParams)
    cuckoo: CuckooParams = field(default_factory=CuckooParams)
