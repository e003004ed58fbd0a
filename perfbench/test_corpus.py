"""Self-test of the benchmark's corpus generator.

    python3 -m pytest perfbench/test_corpus.py -q

The digests pin the generator's output for each seed: a change to the
generator changes the benchmark's inputs and must update them on purpose.
"""

import collections
import os

import pytest

import corpus

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DIGESTS = {
    ("rules", 1): "c3d849a709bf7bfd",
    ("rules", 2): "31ef2b5d8645a6ec",
    ("curation", 1): "bea6ec4d5a9d532b",
    ("curation", 2): "1c5bb99e925a0918",
}


@pytest.mark.parametrize("profile,seed", sorted(DIGESTS))
def test_digest_pinned_per_seed(profile, seed):
    docs, _ = corpus.generate(profile, 500, seed)
    assert corpus.digest(docs) == DIGESTS[(profile, seed)]
    again, _ = corpus.generate(profile, 500, seed)
    assert corpus.digest(again) == DIGESTS[(profile, seed)]


@pytest.mark.parametrize("profile", ["rules", "curation"])
def test_documents_distinct(profile):
    docs, _ = corpus.generate(profile, 2000, 7)
    assert docs["text"].is_unique and docs["url"].is_unique


def test_each_kind_fails_its_rule():
    """Under the per-row oracle every failure kind is dropped by the rule
    it is named after, and clean documents are kept."""
    from datacurator_jl_spark.recipe import load_recipe
    from datacurator_jl_spark.testing.oracle import oracle_labels

    docs, truth = corpus.generate("rules", 600, 3)
    spec = load_recipe(os.path.join(ROOT, "recipes", "webtext_quality.toml"))
    labels = oracle_labels(docs, spec)
    pairs = collections.Counter(
        (truth["kind"][u], rid.split(":", 2)[2]) for u, rid in zip(labels["url"], labels["rule_id"])
    )
    for (kind, rule), _n in pairs.items():
        assert rule == ("always" if kind == "clean" else kind), (kind, rule)
    fired = {rule for _kind, rule in pairs}
    assert fired == set(corpus.RULE_SHARES) | {"max_length", "always"}


def test_curation_ground_truth():
    docs, truth = corpus.generate("curation", 2000, 5)
    assert len(truth["near_dups"]) == round(corpus.NEAR_DUP_FRAC * 2000)
    urls = set(docs["url"])
    assert all(c in urls and o in urls for c, o in truth["near_dups"])
    assert set(corpus.BLOCKLIST) <= urls
    head = docs["category"].value_counts().iloc[0]
    assert head > 0.6 * len(docs)
