"""Engine configuration.

``PageRankConfig`` holds the reference's PageRank knobs (pagerank.py:261-285:
--alpha --max_iterations --epsilon --filter_ratio) plus the Spark-side knobs
the reference has no concept of (partitioning, salting, checkpoint cadence,
physical strategy, normalization mode). The reference's query flags
(--personalization_vector_query --search_query --max_results --power
--sum_weight) are CLI arguments passed straight to ``functions.query``.

Normalization modes (SURVEY.md §5.2 — the reference README goldens pin
*different* semantics than the committed code):

- ``reference``  : x L1-normalized per iteration, v L2-normalized
                   (pagerank.py:133 / :113 — committed-code semantics)
- ``l2l2``       : x L2 / v L2 — matches the instructor README goldens
- ``standard``   : x L1 / v L1 — textbook PageRank (Langville–Meyer values)
- ``l2l1``      : x L2 / v L1

In all modes x0 is L2-normalized (pagerank.py:118); the converged fixed
point does not depend on x0.
"""

from __future__ import annotations

from dataclasses import dataclass

_MODES: dict[str, tuple[str, str]] = {
    "reference": ("l1", "l2"),
    "l2l2": ("l2", "l2"),
    "standard": ("l1", "l1"),
    "l2l1": ("l2", "l1"),
}


def mode_norms(mode: str) -> tuple[str, str]:
    """→ (norm_x applied per iteration, norm_v applied once to v)."""
    try:
        return _MODES[mode]
    except KeyError:
        raise ValueError(f"unknown normalization mode {mode!r}; one of {sorted(_MODES)}")


@dataclass
class PageRankConfig:
    # reference-parity knobs (pagerank.py:261-285)
    alpha: float = 0.85
    max_iterations: int = 1000
    epsilon: float = 1e-6
    filter_ratio: float | None = None
    # semantics
    mode: str = "reference"  # reference | l2l2 | standard | l2l1
    convergence: str = "l2_residual"  # l2_residual (reference) | l1_delta (bench)
    # semantics guards
    validate_vertices: bool = True  # assert edge endpoints ⊆ supplied vertices
    # physical
    strategy: str = "relational"  # relational | csr
    num_partitions: int | None = None  # None → spark.sql.shuffle.partitions
    salt_buckets: int = 8  # salt replication factor for hub vertices
    hub_degree_threshold: int | None = None  # None → auto (mean*32, min 256)
    checkpoint_every: int = 1  # write state every k iterations when a checkpoint_store is passed

    @property
    def norm_x(self) -> str:
        return mode_norms(self.mode)[0]

    @property
    def norm_v(self) -> str:
        return mode_norms(self.mode)[1]
