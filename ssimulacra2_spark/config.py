"""Check-suite configuration.

Analog of the reference's YuvConfig metadata record
(/root/reference/ssimulacra2_bin/src/video.rs:369-386): everything that
governs interpretation of the raw table — vocabularies, guards, scale
count, thresholds — in one serializable object. The transcript schema
itself is fixed: TRANSCRIPT_COLUMNS below is the one statement of the data
model, and every check reads those column names. All scale knobs
(buckets, chunk sizes, histogram bins) are config-driven so the same
code path runs at sf0.001 and at 10^12 rows (SURVEY §7.2).
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, fields

from .constants import MIN_SIZE, NUM_SCALES, SCORE_PASS_THRESHOLD

DEFAULT_ROLES = ("system", "user", "assistant", "tool")
DEFAULT_TOOLS = (
    "search",
    "browser",
    "python",
    "bash",
    "calculator",
    "retrieval",
    "sql",
    "editor",
    "compiler",
    "planner",
    "memory",
    "vision",
    "speech",
    "translate",
    "summarize",
    "classify",
    "extract",
    "rank",
    "route",
    "none",
)

TRANSCRIPT_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")

# every check id the suite runs, in verdict order
ALL_CHECKS = (
    "schema", "min_rows", "row_parity", "uniqueness", "monotone_ts", "vocab_role",
    "vocab_tool", "text_parity", "column_stats", "psi_ks", "emb_drift", "drift_score",
)


@dataclass
class CheckSuiteConfig:
    # vocabularies (the data model is TRANSCRIPT_COLUMNS)
    roles: tuple[str, ...] = DEFAULT_ROLES
    tools: tuple[str, ...] = DEFAULT_TOOLS

    # partitioning: partition_id = pmod(xxhash64(conv_id), n_buckets) —
    # conversations never straddle partitions, so per-partition verdicts
    # are complete and resumable units (≙ per-frame scoring video.rs:134-177)
    n_buckets: int = 16

    # guards (≙ min 8x8 / dimension parity, lib.rs:49-55)
    min_rows_per_partition: int = MIN_SIZE * MIN_SIZE

    # windowed stats / drift (≙ 6 scales lib.rs:9; the smoothing kernel is
    # fixed: constants.KERNEL_TAPS)
    num_scales: int = NUM_SCALES
    # feature channels for the drift score (≙ the 3 Xyb planes). 'hash'
    # uses Spark's xxhash64 — exclude it when pinning against the
    # pure-pandas oracle, which cannot reproduce that hash
    channels: tuple[str, ...] = ("len", "tok", "hash")
    score_threshold: float = SCORE_PASS_THRESHOLD
    psi_threshold: float = 0.25
    ks_threshold: float = 0.2
    drift_bins: int = 20
    # embedding-centroid drift (operators/stats.rollup): minimum cosine
    # between the per-partition channel-vector centroids of the two sides
    emb_drift_min_cos: float = 0.995
    # channels forming the per-turn vector for emb_drift. Default is the
    # CHEAP pair: 'len' (length) and 'hash' (xxhash) — deliberately NOT
    # 'tok', whose regex is the expensive featurization (measured
    # ~1.9s/8M-rows/eval); referencing only cheap channels lets Catalyst
    # prune the tok regex out of the profile aggregate entirely
    # (interleaved A/B: fused-with-tok cost ~+2-4s at 8M/32c, cheap pair
    # ~+0). Must be a subset of `channels`.
    emb_channels: tuple[str, ...] = ("len", "hash")

    # monotone check chunking: the adjacent-turn lag runs per
    # (conv_id, turn_idx div monotone_chunk_turns) so a hot conversation
    # spreads over n_turns/chunk tasks; chunk-boundary pairs are checked
    # over a tiny per-chunk summary (see checks.order_unique_violations)
    monotone_chunk_turns: int = 8192

    checks: tuple[str, ...] = tuple(c for c in ALL_CHECKS if c != "psi_ks")

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2)

    @classmethod
    def from_json(cls, s: str) -> CheckSuiteConfig:
        """Inverse of to_json. JSON has no tuples, so every tuple-valued
        field is re-tupled; an unknown key (e.g. a removed field in an old
        config file) raises TypeError rather than being dropped."""
        d = json.loads(s)
        for f in fields(cls):
            if isinstance(f.default, tuple) and f.name in d:
                d[f.name] = tuple(d[f.name])
        return cls(**d)
