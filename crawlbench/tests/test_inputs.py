"""Inputs depend on the seed only, and every change file has one shape."""

from crawlbench import inputs


def test_change_files_have_one_shape_for_every_seed():
    for seed in (1, 2, 3):
        rows = inputs.change_rows(seed, file_no=0, first_seq=41, n=40, doc_lo=10, n_docs=150)
        assert [r[0] for r in rows] == list(range(41, 81))
        deletes = {r[1] for r in rows if r[2]}
        upserts = [r[1] for r in rows if not r[2]]
        assert len(deletes) == 2 and len(upserts) == 38 and len(set(upserts)) == 28
        assert not deletes & set(upserts)


def test_inputs_repeat_for_a_seed_and_differ_across_seeds():
    a = inputs.change_rows(7, 3, 1, 40, 0, 150)
    assert a == inputs.change_rows(7, 3, 1, 40, 0, 150)
    assert a != inputs.change_rows(8, 3, 1, 40, 0, 150)
    assert inputs.salt_of(7) == inputs.salt_of(7) != inputs.salt_of(8)
    front = inputs.frontier_pd(100, inputs.salt_of(7))
    assert front.equals(inputs.frontier_pd(100, inputs.salt_of(7)))
