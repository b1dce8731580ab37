"""u15_temperature_mix — temperature-scaled mixture semantics: weights
normalize per tau, tau=1 is the natural share (boost exactly 1), and
lower temperatures monotonically upsample the smallest domain at the
expense of the largest."""

from __future__ import annotations

from qcfractal_spark.queries import REGISTRY

from conftest import SF_SMOKE


def test_temperature_mix_semantics(spark):
    fn = REGISTRY["u15_temperature_mix"].fn
    rows = fn(spark, SF_SMOKE).collect()
    taus = sorted({r["tau"] for r in rows})
    assert taus == [0.25, 0.5, 0.75, 1.0]
    by_tau = {t: [r for r in rows if r["tau"] == t] for t in taus}
    n_src = len(by_tau[1.0])
    assert all(len(v) == n_src for v in by_tau.values())

    for t in taus:
        assert abs(sum(r["weight"] for r in by_tau[t]) - 1.0) < 1e-4

    # tau=1: weight == natural share -> boost == 1 everywhere
    assert all(abs(r["boost"] - 1.0) < 1e-6 for r in by_tau[1.0])

    smallest = min(by_tau[1.0], key=lambda r: r["n_tokens"])["source"]
    largest = max(by_tau[1.0], key=lambda r: r["n_tokens"])["source"]
    if smallest != largest:
        small_boosts = [
            next(r["boost"] for r in by_tau[t] if r["source"] == smallest)
            for t in taus
        ]
        large_boosts = [
            next(r["boost"] for r in by_tau[t] if r["source"] == largest)
            for t in taus
        ]
        # lower tau -> flatter mixture: small domains boosted, large damped
        assert small_boosts == sorted(small_boosts, reverse=True)
        assert large_boosts == sorted(large_boosts)
        assert small_boosts[0] >= 1.0 >= large_boosts[0]
