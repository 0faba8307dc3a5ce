"""Unit tests for the pure-Python reference-rule oracle."""

from netbase_spark.normalize import norm_name, seo_slug
from netbase_spark.oracle.rules import (
    build_token_trie,
    dissect_name,
    filter_candidates,
    find_mentions_trie,
    oracle_triples,
)
from netbase_spark.relations import INSTANCE, LOCATION, MEMBER, MENTIONED_IN, NEAR


def triples(name, key=None):
    return {(s, p, o) for s, p, o, _ in dissect_name(name, key or norm_name(name))}


def test_norm_name():
    assert norm_name("A_b-C") == "a b c"
    assert norm_name('  "Quoted" ') == "quoted"
    assert norm_name("x   y") == "x y"
    assert seo_slug("New York!") == "new-york"


def test_head_rule():
    # head fallback (src/netbase.cpp:1153-1160): rest after first space
    assert ("ring", INSTANCE, "small ring") in triples("small ring")


def test_comma_rule():
    got = triples("alpha, beta")
    assert ("alpha", INSTANCE, "alpha, beta") in got
    assert ("beta", INSTANCE, "alpha, beta") in got


def test_paren_rule():
    got = triples("berlin (city)", "Q1")
    assert ("berlin", INSTANCE, "Q1") in got
    assert ("city", INSTANCE, "berlin") in got
    assert ("Q1", INSTANCE, "city") in got


def test_in_rule_returns_early():
    got = triples("bridge in paris", "Q2")
    assert ("bridge", INSTANCE, "Q2") in got
    assert ("Q2", LOCATION, "paris") in got
    # early return: no head-rule triple
    assert ("in paris", INSTANCE, "Q2") not in got


def test_of_rule_plus_head():
    got = triples("battle of hastings", "Q3")
    assert ("battle", INSTANCE, "Q3") in got
    assert ("hastings", MEMBER, "Q3") in got
    # head rule strips leading "of "
    assert ("hastings", INSTANCE, "Q3") in got


def test_bei_rule():
    got = triples("schloss bei potsdam", "Q4")
    assert ("schloss", INSTANCE, "Q4") in got
    assert ("Q4", NEAR, "potsdam") in got
    assert ("Q4", LOCATION, "potsdam") in got


def test_possessive_swallows_char():
    # reference substr(type+4) bug replicated: object loses first char
    got = triples("oswald's cave", "Q5")
    assert ("oswald", INSTANCE, "Q5") in got
    assert ("ave", INSTANCE, "Q5") in got  # "cave" -> "ave" (t+4)
    assert ("Q5", MEMBER, "ave") in got


def test_parent_chain():
    got = triples("new york city", "Q6")
    # dissectParent: suffix after first separator, then recurse
    assert ("york city", INSTANCE, "Q6") in got
    assert ("city", INSTANCE, "york city") in got


def test_plural_parent():
    got = triples("widgets")
    assert ("widget", INSTANCE, "widgets") in got


def test_number_rule_is_dead():
    # isNumber() can never be true when ". " matched (src/util.cpp:37-39)
    got = dissect_name("1. fc cologne", "Q7")
    assert not any(r == "number" for _, _, _, r in got)


def test_find_mentions_longest_match():
    aliases = {"battle of hastings", "battle", "hastings", "widget"}
    found = find_mentions_trie(
        "the battle of hastings began", build_token_trie(aliases), set()
    )
    keys = {k for k, _, _ in found}
    assert "battle of hastings" in keys and "battle" in keys
    kept = {k for k, _, _ in filter_candidates(found)}
    assert kept == {"battle of hastings"}  # substrings dropped


def test_find_mentions_stemming_blacklist_numbers():
    trie = build_token_trie({"widget", "the"})
    found = find_mentions_trie("widgets 123 the", trie, {"the"})
    keys = {k for k, _, _ in found}
    assert keys == {"widget"}  # plural stemmed; 123 numeric; "the" blacklisted


def test_optimized_scan_equals_naive_property():
    # Property: the optimized find_mentions_trie (memoized word info,
    # goto-trie walk with dead-prefix break, word-count pruning) returns
    # EXACTLY what the pristine transcription returns, over tokens
    # engineered to hit every fast/slow boundary: quoted and underscored
    # words (non-compositional normalization), 1-char "s" words (stem
    # drops the separator too), non-ascii casing (final sigma), numbers,
    # empties, blacklist hits, bigram probes.
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from netbase_spark.oracle.rules import (
        filter_candidates_naive,
        find_mentions_naive,
        max_alias_word_count,
    )

    aliases = {
        "tesla", "red widget", "battle of hastings", "kiel", "cars",
        "o'brien", '"quoted"', "a s", "x", "ΑΣ".lower(), "tab word",
        "very long alias of six words", "battle of",
    }
    trie = build_token_trie(aliases)
    maxw = max_alias_word_count(aliases)
    blacklist = {"the", "tab word"}

    def lookup(nn):
        return nn if nn in aliases else None

    tokens = st.sampled_from(
        [
            "Tesla's", "Tesla", "teslas", "red", "widgets", "s", "S",
            "battle", "of", "hastings", "Kiel", "e.V", "O'Briens",
            '"quoted"s', "cars'", "123", "", "the", "(red)", "x",
            "a", "ΑΣ", "tab\tword", "under_score", "dash-word", "é",
            "very", "long", "alias", "six", "words", '"', "_", "-",
        ]
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(tokens, min_size=0, max_size=12))
    def check(words):
        text = " ".join(words)
        for german in (False, True):
            naive = find_mentions_naive(text, lookup, blacklist, german)
            fast = find_mentions_trie(text, trie, blacklist, german)
            assert fast == naive, (text, german)
            # with word-count pruning (the engine's actual hot path)
            pruned = find_mentions_trie(
                text, trie, blacklist, german, max_span_words=maxw
            )
            assert pruned == naive, (text, german)
            assert filter_candidates(fast) == filter_candidates_naive(naive), (
                text, german,
            )

    check()


def test_oracle_end_to_end_canonicalizes():
    labels = [
        {"key": "Q1", "label": "car", "label_type": "label"},
        {"key": "Q2", "label": "automobile", "label_type": "label"},
        {"key": "Q3", "label": "red widget", "label_type": "label"},
    ]
    docs = [
        {
            "doc_id": "0",
            "spans": [
                {"kind": "text", "text": "a shiny red widget drove past"},
                {"kind": "image", "text": "", "media_ref": "x.jpg"},
            ],
        }
    ]
    got = oracle_triples(labels, docs, set(), [("Q1", "Q2")])
    assert ("car", INSTANCE, "Q1") in got
    assert ("automobile", INSTANCE, "Q1") in got  # Q2 merged into Q1
    assert ("Q3", MENTIONED_IN, "0") in got
    assert ("widget", INSTANCE, "Q3") in got  # head rule on "red widget"
