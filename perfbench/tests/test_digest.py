"""Order independence of the reference digests."""

import random

from perfbench.digest import digest, precision_recall

ROWS = [(1, 0, "graph", "ex:E1", "rdfs:label", "amber", "@en", None),
        (1, 0, "graph", "ex:E2", "ex:powers", "ex:E3", "_IRI", None),
        (1, 0, "graph", "ex:E2", "ex:powers", "ex:E3", "_IRI",
         '{"ex:assertedBy":[{"object":"bob"}]}')]


def test_digest_ignores_row_order():
    shuffled = ROWS[:]
    random.Random(0).shuffle(shuffled)
    assert digest(shuffled) == digest(ROWS)
    assert digest(reversed(ROWS)) == digest(ROWS)


def test_digest_sees_missing_extra_repeated_and_changed_rows():
    base = digest(ROWS)
    assert digest(ROWS[:-1]) != base
    assert digest(ROWS + [ROWS[0]]) != base
    assert digest(ROWS[:-1] + [ROWS[0]]) != base
    assert digest([ROWS[0][:-1] + ("null",)] + ROWS[1:]) != base
    assert digest([(1, 2)]) != digest([("1", "2")])


def test_precision_recall():
    assert precision_recall(ROWS, ROWS) == (1.0, 1.0)
    p, r = precision_recall(ROWS[:2], ROWS)
    assert (p, r) == (1.0, 2 / 3)
    p, r = precision_recall(ROWS + [(9,)], ROWS)
    assert (p, r) == (0.75, 1.0)
