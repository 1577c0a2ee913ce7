"""olap_read's operator ids follow from the committed profile by rule."""

import statistics

import registry_ops as ro


def synthetic(n=64):
    return {f"q{i:02d}": {"ok": True, "wall_s": i, "jobs": i % 7,
                          "shuffle_bytes": (i * 37) % n, "plan_s": n - i}
            for i in range(n)}


def test_choose_is_deterministic_and_distinct():
    p = synthetic()
    sel = ro.choose(p)
    assert sel == ro.choose(dict(reversed(list(p.items()))))
    assert len(set(sel)) == ro.N_OPERATOR_IDS


def test_choose_spreads_over_every_measure():
    p = synthetic()
    sel = ro.choose(p)
    for m in ro.MEASURES:
        ranks = ro._ranks({q: row[m] for q, row in p.items()})
        got = ro._quartiles([ranks[q] for q in sel])
        want = ro._quartiles(ranks.values())
        assert max(abs(a - b) for a, b in zip(got, want)) < 0.15, m


def test_choose_skips_failed_ids():
    p = synthetic()
    first = ro.choose(p)[0]
    p[first]["ok"] = False
    assert first not in ro.choose(p)


def test_workload_ids_come_from_the_profile():
    import json

    profile = json.loads(ro.PROFILE.read_text())["ids"]
    ids = ro.olap_ids()
    assert ids[:ro.N_OPERATOR_IDS] == ro.choose(profile)
    assert ids[ro.N_OPERATOR_IDS:] == ro.EXT_IDS
    assert all(profile[q]["ok"] for q in ids[:ro.N_OPERATOR_IDS])
    # the profile covers every candidate; its walls are real measurements
    assert statistics.median(r["wall_s"] for r in profile.values()) > 0
