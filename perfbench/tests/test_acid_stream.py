"""The acid_wire statement stream is a pure function of the seed."""

from itertools import islice

from acid_stream import N_KEYS, PAIR_STATUSES, SLOT, rounds

DML = ("insert", "update", "delete", "merge")


def take(seed, n=6):
    return list(islice(rounds(seed), n))


def ops(rnd):
    return [o for unit in rnd for o in unit]


def statements(seed, n=6):
    return [o.sql() for r in take(seed, n) for o in ops(r) if o.kind != "read"]


def test_same_seed_same_stream():
    assert take(7) == take(7)
    assert statements(7) == statements(7)


def test_other_seed_other_stream():
    assert statements(7) != statements(8)


def test_round_composition_does_not_depend_on_seed():
    def sizes(seed):
        return [sorted(len(u) for u in r) for r in take(seed)]

    assert sizes(1) == sizes(2) == sizes(3)

    def shape(seed):
        return [[[(o.kind, o.session, o.table) for o in u] for u in r]
                for r in take(seed)]

    # the same units in the same order: only keys and constants move
    assert shape(1) == shape(2) == shape(3)
    for seed in (1, 2, 3):
        # warm-up: an UPDATE and a read per table
        assert [(o.kind, o.table) for o in ops(take(seed)[0])] == [
            ("update", "flat"), ("update", "part"),
            ("read", "flat"), ("read", "part"),
        ]
        for k, r in enumerate(take(seed)[1:], start=1):
            singles = [(u[0].kind, u[0].table) for u in r if len(u) == 1]
            assert sorted(singles) == sorted(
                [(v, t) for v, t in zip(DML, ("flat", "part") * 2
                                        if k % 2 else ("part", "flat") * 2)]
                + [("read", "flat"), ("read", "part")]
            )
            # the block's length cycles 2, 3, 4 (+ BEGIN and COMMIT)
            block = [u for u in r if u[0].kind == "begin"
                     and u[1].kind != "begin"]
            assert len(block) == 1 and len(block[0]) == 4 + k % 3
            # reads close the round
            assert [u[0].kind for u in r[-2:]] == ["read", "read"]


def test_every_statement_owns_its_key_slot():
    for seed in (1, 2):
        ranges = [(o.lo, o.hi) for r in take(seed, 20) for o in ops(r)
                  if o.kind in DML]
        assert len(set(ranges)) == len(ranges)
        assert all(hi - lo == SLOT - 1 and hi < N_KEYS for lo, hi in ranges)


def test_pair_updates_the_same_partition():
    for r in take(3, 10)[1:]:
        (pair,) = [u for u in r if len(u) > 1 and u[1].kind == "begin"]
        a_begin, b_begin, first, second, a_commit, b_commit = pair
        assert (a_begin.session, b_begin.session) == ("a", "b")
        assert (first.kind, second.kind) == ("update", "update")
        assert first.table == second.table
        assert first.status == second.status
        assert first.status in (
            (None,) if first.table == "flat" else PAIR_STATUSES)
        assert (a_commit.session, b_commit.session) == ("a", "b")
