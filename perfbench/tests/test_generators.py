"""Generators are pure functions of their seed, and the driver-side
Jaccard truth matches brute force."""

from __future__ import annotations

import itertools

from perfbench import generators as gen


def test_company_fixture_is_seeded():
    a, b = gen.company_fixture(40, seed=7), gen.company_fixture(40, seed=7)
    assert a.rows == b.rows and a.truth == b.truth
    assert gen.company_fixture(40, seed=8).rows != a.rows
    # crn: base + 3 suffix variations; dh: half the universe; cdms: doubled
    assert [len(a.rows[s]) for s in ("crn", "dh", "cdms")] == [160, 20, 80]


def test_corpus_is_seeded_and_plants_families():
    a, b = gen.near_dup_corpus(300, seed=7), gen.near_dup_corpus(300, seed=7)
    assert a == b
    assert gen.near_dup_corpus(300, seed=8).docs != a.docs
    assert len(a.docs) == 300 and len(set(a.docs.values())) == 300
    assert a.families and all(len(f) >= 2 for f in a.families)
    refs = gen.near_dup_refs(a, seed=7)
    assert refs == gen.near_dup_refs(a, seed=7) != gen.near_dup_refs(a, seed=8)
    assert len(refs) == 150 and len(set(refs.values())) == 150 and set(refs.values()) <= a.docs.keys()


def test_stream_plan_is_seeded_and_spreads_entities():
    a, b = gen.stream_plan(50, seed=7, n_files=3, lookups_per_file=5), gen.stream_plan(
        50, seed=7, n_files=3, lookups_per_file=5
    )
    assert a == b
    assert gen.stream_plan(50, seed=8, n_files=3, lookups_per_file=5).files != a.files
    assert sum(len(f) for f in a.files) == 200
    file_of = {r[0]: i for i, f in enumerate(a.files) for r in f}
    spans = {}
    for key, ent in a.truth.items():
        spans.setdefault(ent, set()).add(file_of[key])
    assert any(len(s) > 1 for s in spans.values())  # later files merge clusters
    last = a.expected_after(2)
    assert all(key in last[key] for key in a.truth)


def test_exact_jaccard_pairs_matches_brute_force():
    corpus = gen.near_dup_corpus(250, seed=3, vocab=300, words=20)
    sets = {k: gen.shingles(v, 2) for k, v in corpus.docs.items()}
    for t in (0.2, 0.5, 0.6):
        brute = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= t:
                brute[(a, b)] = j
        assert brute  # every threshold keeps some planted pairs
        assert gen.exact_jaccard_pairs(corpus.docs, 2, t) == brute


def test_partition_keeps_singletons():
    parts = gen.partition(["a", "b", "c", "d"], [("a", "b"), ("b", "c")])
    assert sorted(map(sorted, parts)) == [["a", "b", "c"], ["d"]]
