"""The input generator is a pure function of the seed."""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _tree(root: str) -> dict[str, tuple[str, int]]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = (hashlib.sha256(f.read()).hexdigest(),
                                                 int(os.path.getmtime(p)))
    return out


def test_tables_are_identical_for_a_seed():
    for build, n in ((gen.events_table, 500), (gen.documents_table, 200),
                     (gen.embeddings_table, 50)):
        assert build(7, n).equals(build(7, n))
        assert not build(7, n).equals(build(8, n))


def test_stagein_area_is_identical_for_a_seed(tmp_path):
    sizes = gen.StageinSizes(good=20, checksum=3, missing_header=2, unknown_filetype=2,
                             missing_data=2, represented=5, fixed=1)
    trees = []
    for run, seed in (("a", 3), ("b", 3), ("c", 4)):
        plan = gen.stagein_plan(seed, sizes)
        root = tmp_path / run
        gen.write_phase(plan.a, str(root / "n"), str(root / "d"), seed)
        trees.append(_tree(str(root)))
    assert trees[0] == trees[1]
    assert trees[0] != trees[2]


def test_stagein_plan_plants_the_requested_counts():
    sizes = gen.StageinSizes(good=20, checksum=3, missing_header=2, unknown_filetype=2,
                             missing_data=2, represented=5, fixed=1)
    plan = gen.stagein_plan(1, sizes)
    for phase in (plan.a, plan.b):
        counts = {k: len(v) for k, v in phase.planted.items()}
        assert {k: counts[k] for k in ("good", "checksum", "missing_header",
                                       "unknown_filetype", "missing_data")} == {
            "good": 20, "checksum": 3, "missing_header": 2, "unknown_filetype": 2,
            "missing_data": 2}
        assert all(phase.files[n][0] is None for n in phase.planted["missing_data"])
    # re-presented names are byte-identical copies of phase-A files
    assert len(plan.represented) == 5
    assert all(plan.b.files[n] == plan.a.files[n] for n in plan.represented)
    assert set(plan.fixes) <= set(plan.b.planted["checksum"]) and len(plan.fixes) == 1


def test_rolling_plan_is_identical_for_a_seed_and_copies_are_exact():
    p1, p2 = gen.rolling_plan(5, 3, 40), gen.rolling_plan(5, 3, 40)
    assert p1.batches == p2.batches and p1.copies == p2.copies and p1.near == p2.near
    assert p1.batches != gen.rolling_plan(6, 3, 40).batches
    text = {d: t for batch in p1.batches for d, t in batch}
    assert p1.copies and all(text[c] == text[o] and o < c for c, o in p1.copies.items())
    assert p1.near and all(text[n] != text[o] and o < n for n, o in p1.near.items())
    assert [len(b) for b in p1.batches] == [40, 40, 40]
