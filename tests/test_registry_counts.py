"""Keep the README's registry-count claim honest: the numbers on the
"driver contract" line must equal len(all_queries()) / len(all_oracles()).
(Round-3 verdict flagged a stale hand-edited count.)"""

from __future__ import annotations

import re
from pathlib import Path

from tests.conftest import SF_SMOKE


def test_readme_counts_match_registry():
    from dqe_spark.entry import all_oracles, all_queries

    text = Path(__file__).resolve().parent.parent.joinpath("README.md").read_text()
    m = re.search(r"(\d+) registry\s+queries \((\d+) with an ANSI-SQL oracle", text)
    assert m, "README driver-contract line not found — update the test's regex"
    assert int(m.group(1)) == len(all_queries()), (
        f"README says {m.group(1)} queries; registry has {len(all_queries())}"
    )
    assert int(m.group(2)) == len(all_oracles()), (
        f"README says {m.group(2)} oracles; registry has {len(all_oracles())}"
    )


def test_broken_registry_module_raises(monkeypatch):
    """A registry module that fails to import must raise from the
    registry, not silently shrink it (or surface as a misleading
    PRIORITY KeyError)."""
    import sys

    import pytest

    import dqe_spark
    from dqe_spark.entry import all_oracles, all_queries

    monkeypatch.delattr(dqe_spark, "queries_dql", raising=False)
    monkeypatch.setitem(sys.modules, "dqe_spark.queries_dql", None)
    with pytest.raises(ImportError):
        all_oracles()
    with pytest.raises(ImportError):
        all_queries()


def test_priority_prefix_is_stable():
    """The driver's correctness gate checks a PREFIX of queries(); the
    PRIORITY list pins those keys. Rounds 2-4 kept them frozen — any
    accidental edit would rotate the driver's checked set and void
    round-over-round comparability."""
    import hashlib

    from dqe_spark.entry import PRIORITY, all_queries

    names = list(all_queries())
    assert names[: len(PRIORITY)] == PRIORITY
    # frozen as of round 3 (50 keys); update ONLY deliberately
    digest = hashlib.md5("|".join(PRIORITY).encode()).hexdigest()
    assert len(PRIORITY) == 50
    assert digest == "f4aa0413c407a8a952e8623a1083af16", (
        "PRIORITY changed — the driver's checked prefix would rotate; "
        "revert unless the rotation is deliberate (then update this digest)"
    )


def test_rows_only_queries_embed_invariants(spark):
    """Registry queries with approximate/iterative semantics each
    embed a deterministic self-check COLUMN (round-4 verdict,
    next-round #5) so the record changes when quality regresses —
    these bounds pin the healthy values at smoke scale. (Round 7
    hash-gated knn_ivf_kmeans / knn_pq / neardup_ivf / neardup_hybrid
    via the quantized-space replay, both ANN-store serving twins via
    store replay, the distinct-rollup twins via the portable
    cross-engine HLL, and emb_pca_project via the deterministic
    squaring+power-iteration eigensolver — the rows-only set is now
    EMPTY; the invariant columns below stay pinned regardless,
    because an oracle proves equality, not quality.)"""
    from dqe_spark.entry import all_queries

    qs = all_queries()
    sf = SF_SMOKE

    # floors reflect each path's honest recall on the near-random
    # synthetic embeddings: PQ/served re-rank exact over candidates
    # (high), IVF probes 2/8 cells so cross-cell neighbors are the
    # standard miss (lower). A broken quantizer drops all to ~0.
    for name, floor in (
        ("knn_ivf_kmeans", 3), ("knn_pq", 7), ("knn_ann_served", 6)
    ):
        rows = qs[name](spark, sf).collect()
        assert len(rows) == 10 and "in_exact_top10" in rows[0].asDict()
        assert sum(r["in_exact_top10"] for r in rows) >= floor, name

    nd = qs["neardup_ivf"](spark, sf).collect()
    bps = {r["probe_recall_bp"] for r in nd}
    assert len(bps) == 1  # constant invariant column
    assert 1000 <= bps.pop() <= 10000  # cross-cell misses allowed, not collapse

    ru = qs["rollup_distinct_users_1d"](spark, sf).collect()
    assert all(r["exact_users"] is not None for r in ru)
    assert max(r["err_bp"] for r in ru) <= 1500  # HLL rsd≈5% → ~3σ bound

    pca = qs["emb_pca_project"](spark, sf).collect()
    bp = {r["var_explained_bp"] for r in pca}
    assert len(bp) == 1
    assert 500 <= bp.pop() <= 10000  # top-8 subspace captures real variance
