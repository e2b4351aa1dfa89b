"""Seeded input generators for the workloads, each with the ground truth
its correctness check needs.

Every generator is a pure function of its arguments: the same seed gives
the same inputs, and the program under test only ever sees what these
functions return (written to parquet by the workloads).
"""

from __future__ import annotations

import bisect
import itertools
import math
import random
from collections import Counter, defaultdict
from dataclasses import dataclass

from matchbox_spark.factories import linked_sources_factory

# the bitset Jaccard path of operators.dedup serves vocabularies up to this
# many distinct shingles; near_dup must stay far above it (posting path)
BITSET_VOCAB_CAP = 4096


# ---------------------------------------------------------------------------
# the canonical linked company fixture (stream_serve lands its crn source)
# ---------------------------------------------------------------------------


@dataclass
class CompanyFixture:
    """Rows per source plus key → true entity per source."""

    rows: dict[str, list[tuple]]
    schemas: dict[str, str]
    truth: dict[str, dict[str, int]]

    def entity_keys(self, sources) -> dict[int, set[str]]:
        """True entity → its ``source:key`` members over ``sources``."""
        out: dict[int, set[str]] = {}
        for s in sources:
            for key, ent in self.truth[s].items():
                out.setdefault(ent, set()).add(f"{s}:{key}")
        return out


class _RowCapture:
    """Stands in for a SparkSession inside the factory: keeps the rows."""

    def createDataFrame(self, rows, schema):  # noqa: N802 - Spark's name
        return (list(rows), schema)


def company_fixture(n_entities: int, seed: int) -> CompanyFixture:
    """``factories.linked_sources_factory`` at ``n_entities`` true entities:
    crn has 3 suffix variations per entity, dh covers half the universe,
    cdms duplicates every row."""
    kit = linked_sources_factory(_RowCapture(), n_true_entities=n_entities, seed=seed)
    rows, schemas, truth = {}, {}, {}
    for name, src in kit.sources.items():
        rows[name], schemas[name] = src.data
        truth[name] = dict(src.key_to_entity)
    return CompanyFixture(rows, schemas, truth)


# ---------------------------------------------------------------------------
# near_dup: Zipf corpus with planted near-duplicate families
# ---------------------------------------------------------------------------


@dataclass
class Corpus:
    docs: dict[str, str]  # key → text
    families: list[list[str]]  # planted near-duplicate families (keys)

    def planted_pairs(self) -> set[tuple[str, str]]:
        return {
            (a, b) if a < b else (b, a)
            for fam in self.families
            for a, b in itertools.combinations(fam, 2)
        }


def near_dup_corpus(
    n_docs: int,
    seed: int,
    vocab: int = 8000,
    words: int = 40,
    family_rate: float = 0.25,
    substitutions: int = 3,
) -> Corpus:
    """Documents of ``words`` Zipf-drawn words; a ``family_rate`` share of
    base documents spawn 1-3 variants, each with ``substitutions`` words
    replaced by different words. Texts are unique."""
    rng = random.Random(seed)
    cum = list(itertools.accumulate(1.0 / (i + 1) for i in range(vocab)))

    def word() -> str:
        return f"w{bisect.bisect_left(cum, rng.random() * cum[-1])}"

    docs: dict[str, str] = {}
    seen: set[str] = set()
    families: list[list[str]] = []

    def add(tokens: list[str]) -> str | None:
        text = " ".join(tokens)
        if text in seen or len(docs) >= n_docs:
            return None
        key = f"doc-{len(docs):06d}"
        docs[key] = text
        seen.add(text)
        return key

    while len(docs) < n_docs:
        base = [word() for _ in range(words)]
        first = add(base)
        if first is None or rng.random() >= family_rate:
            continue
        fam = [first]
        for _ in range(rng.randint(1, 3)):
            variant = list(base)
            for pos in rng.sample(range(words), substitutions):
                w = word()
                while w == variant[pos]:
                    w = word()
                variant[pos] = w
            k = add(variant)
            if k is not None:
                fam.append(k)
        if len(fam) > 1:
            families.append(fam)
    return Corpus(docs, families)


def doc_code(key: str) -> str:
    """The ``code`` column of a document, which reference rows cite."""
    return f"code-{key}"


def near_dup_refs(corpus: Corpus, seed: int, share: float = 0.5) -> dict[str, str]:
    """Reference rows citing a seeded ``share`` of the documents, one each:
    ref key → the cited document's key (joined on :func:`doc_code`)."""
    rng = random.Random(seed * 104729 + 1)
    cited = rng.sample(sorted(corpus.docs), round(share * len(corpus.docs)))
    return {f"ref-{i:06d}": k for i, k in enumerate(cited)}


def shingles(text: str, n: int) -> set[str]:
    """Word n-gram set as ``operators.dedup`` builds it: lowercased
    whitespace tokens, space-joined; empty when shorter than ``n``."""
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def exact_jaccard_pairs(
    docs: dict[str, str], n: int, threshold: float
) -> dict[tuple[str, str], float]:
    """Every key pair with shingle-set Jaccard >= threshold, exactly.

    Prefix filtering: with shingles ordered rarest first, two sets with
    Jaccard >= t share a shingle within the first ``|x| - ceil(t|x|) + 1``
    of each, so only pairs sharing a prefix shingle are verified."""
    sets = {k: shingles(v, n) for k, v in docs.items()}
    freq = Counter(s for ss in sets.values() for s in ss)
    index: dict[str, list[str]] = defaultdict(list)
    out: dict[tuple[str, str], float] = {}
    for k in sorted(sets):
        toks = sorted(sets[k], key=lambda s: (freq[s], s))
        if not toks:
            continue
        prefix = toks[: len(toks) - math.ceil(threshold * len(toks) - 1e-9) + 1]
        cands = {c for s in prefix for c in index[s]}
        for s in prefix:
            index[s].append(k)
        for c in cands:
            a, b = sets[k], sets[c]
            inter = len(a & b)
            j = inter / (len(a) + len(b) - inter)
            if j >= threshold:
                out[(c, k) if c < k else (k, c)] = j
    return out


def partition(keys, pairs) -> list[set[str]]:
    """Connected components of ``pairs`` over ``keys`` (singletons kept)."""
    parent = {k: k for k in keys}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comps: dict[str, set[str]] = {}
    for k in keys:
        comps.setdefault(find(k), set()).add(k)
    return list(comps.values())


# ---------------------------------------------------------------------------
# lookups and the stream split
# ---------------------------------------------------------------------------


def lookup_mix(
    rng: random.Random,
    count: int,
    earlier: list[tuple[str, str]],
    current: list[tuple[str, str]],
    absent_tag: str,
    source: str,
) -> list[tuple[str, str]]:
    """``count`` (source, key) lookups in seeded order: exactly 20% keys
    that exist nowhere, 40% drawn from ``earlier`` and the rest from
    ``current`` (an empty ``earlier`` defers to current). Absent keys are
    answered by one probe, present keys by two, so fixed shares keep the
    latency mix the same for every seed."""
    n_absent = round(0.2 * count)
    n_earlier = round(0.4 * count) if earlier else 0
    out = [(source, f"absent-{absent_tag}-{i}") for i in range(n_absent)]
    out += [rng.choice(earlier) for _ in range(n_earlier)]
    out += [rng.choice(current) for _ in range(count - n_absent - n_earlier)]
    rng.shuffle(out)
    return out


@dataclass
class StreamPlan:
    files: list[list[tuple]]  # crn rows per landing file, in landing order
    schema: str
    truth: dict[str, int]  # key → true entity
    lookups: list[list[tuple[str, str]]]  # (source, key) issued after each file

    def expected_after(self, batch: int) -> dict[str, set[str]]:
        """Key → keys of its entity landed in files ``0..batch``."""
        landed = [r[0] for f in self.files[: batch + 1] for r in f]
        by_ent: dict[int, set[str]] = {}
        for k in landed:
            by_ent.setdefault(self.truth[k], set()).add(k)
        return {k: by_ent[self.truth[k]] for k in landed}


def stream_plan(
    n_entities: int, seed: int, n_files: int, lookups_per_file: int
) -> StreamPlan:
    """The crn source of the company fixture split over ``n_files``
    landing files of equal size (±1 row): rows are dealt out in seeded
    random order, so one entity's rows spread across files and later files
    merge earlier clusters."""
    fx = company_fixture(n_entities, seed)
    rng = random.Random(seed * 7919 + n_files)
    rows = [tuple(r) for r in fx.rows["crn"]]
    rng.shuffle(rows)
    files = [rows[i::n_files] for i in range(n_files)]
    lookups = []
    for b in range(n_files):
        earlier = [("crn", r[0]) for f in files[:b] for r in f]
        current = [("crn", r[0]) for r in files[b]]
        lookups.append(
            lookup_mix(rng, lookups_per_file, earlier, current, f"{seed}-{b}", "crn")
        )
    return StreamPlan(files, fx.schemas["crn"], fx.truth["crn"], lookups)
