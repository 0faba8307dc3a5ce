"""Deterministic gazetteer / corpus fixtures (FIXTURES.md shapes).

Everything is generated from code — no external data.  The label set is
designed to exercise every dissect rule branch (src/netbase.cpp:1010-1164),
ambiguity (duplicate labels), stemming, blacklisting, multi-word
mentions up to 6 tokens (src/query.cpp:1998), synonym/sameAs merge
pairs, and hub-skewed type edges (filterWikiType skew guard,
src/query.cpp:1632-1734).
"""

from __future__ import annotations

from netbase_spark.relations import SYNONYM, TYPE

# base vocabulary for fillers and generated names
FILLER_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu stone river cloud ember forest harbor meadow "
    "the and with near under over about quite rather very some many few"
).split()

_NOUNS = (
    "widget ring bolt gear lever spring valve pump rotor stator flange "
    "bracket coupler gasket bearing shaft piston nozzle turbine anchor"
).split()

_ADJS = "small red blue green angular steady forged molten hollow grand".split()

_PLACES = "paris venice potsdam falkenstein hastings kiel berlin lyon".split()

_CLASSES = "city tool battle cave bridge merchant castle house song entity".split()


def labels_fixture() -> list[dict]:
    """Gazetteer rows: {key, label, label_type, lang}."""
    rows: list[dict] = []
    qid = 0

    def add(label: str, label_type: str = "label", lang: str = "en", key=None):
        nonlocal qid
        if key is None:
            qid += 1
            key = f"Q{qid}"
        rows.append({"key": key, "label": label, "label_type": label_type, "lang": lang})
        return key

    # simple one-word entities (abstract words double as aliases)
    for noun in _NOUNS:
        add(noun)
    # classes
    class_keys = {c: add(c) for c in _CLASSES}
    # places
    place_keys = {p: add(p) for p in _PLACES}
    # two-word "adj noun" entities — exercise head-word rule
    for i, adj in enumerate(_ADJS):
        for noun in _NOUNS[i : i + 2]:
            add(f"{adj} {noun}")
    # dissect-rule coverage
    add("berlin (city)")                       # paren rule
    add("alpha, beta")                         # comma rule
    add("battle of hastings")                  # of rule
    add("oswald's cave")                       # possessive rule
    add("bridge in paris")                     # in rule
    add("merchant from venice")                # from rule
    add("tool for cutting")                    # for rule
    add("schloss bei potsdam")                 # bei rule
    add("haus der kunst")                      # der rule
    add("burg von falkenstein")                # von rule
    add("grand harbor of kiel")                # of + head
    add("president of the united states")      # 6-token mention
    add("new york city")                       # multi-word, parent chain
    # plurals (stemming path)
    add("widgets", label_type="altLabel")
    add("gears", label_type="altLabel")
    # ambiguity: same label on two entities
    amb_a = add("mercury")
    amb_b = add("mercury")
    add("quicksilver", key=amb_b, label_type="altLabel")
    # synonym cluster seeds
    syn_a = add("automobile")
    syn_b = add("motorcar")
    syn_c = add("car")
    rows.extend(
        [
            {"key": syn_a, "label": "auto", "label_type": "altLabel", "lang": "en"},
        ]
    )
    # long label (> 50 chars, clamping path importLabels src/import.cpp:1516)
    add("a remarkably long instrument name that exceeds the clamp limit easily")
    # stash keys for other fixtures
    labels_fixture._syn = (syn_a, syn_b, syn_c)  # type: ignore[attr-defined]
    labels_fixture._amb = (amb_a, amb_b)  # type: ignore[attr-defined]
    labels_fixture._classes = class_keys  # type: ignore[attr-defined]
    labels_fixture._places = place_keys  # type: ignore[attr-defined]
    return rows


def synonym_pairs() -> list[tuple[str, str]]:
    """sameAs-class merge edges (P460 -> Synonym, src/relations.cpp:581)."""
    rows = labels_fixture()
    a, b, c = labels_fixture._syn  # type: ignore[attr-defined]
    del rows
    return [(a, b), (b, c)]


def blacklist_fixture() -> set[str]:
    """Stop tokens (loadBlacklist, src/query.cpp:1948-1977).  Only the
    RAW lines enter the forbidden map: the reference's +e/+en German
    inflection loop (1965-1973) re-reads an already-exhausted FILE*, so
    it never executes, and ``findEntites`` consults only the map —
    materializing the inflections here would over-blacklist tokens the
    reference matches (e.g. German 'Ofen' vs blacklisted 'of')."""
    return {"the", "and", "a", "an", "of", "in", "very", "some"}


def raw_type_edges() -> list[tuple[str, int, str]]:
    """(entity, Type, class) edges with deliberate hub skew: most
    entities point at one hub class — the Q5/owl:Thing analog the
    north_rule's salted aggregation must handle."""
    rows = labels_fixture()
    class_keys = labels_fixture._classes  # type: ignore[attr-defined]
    hub = class_keys["entity"]
    edges: list[tuple[str, int, str]] = []
    classes = list(class_keys.values())
    for i, r in enumerate(rows):
        if r["label_type"] != "label" or r["key"] in class_keys.values():
            continue
        edges.append((r["key"], TYPE, hub))  # hub edge: every entity
        edges.append((r["key"], TYPE, classes[i % (len(classes) - 1)]))
    return edges


def raw_synonym_edges() -> list[tuple[str, int, str]]:
    return [(a, SYNONYM, b) for a, b in synonym_pairs()]


def mentionable_labels() -> list[str]:
    """Primary + alt labels that the doc generator may embed in text."""
    return [r["label"] for r in labels_fixture() if len(r["label"]) <= 40]


def labels_spark_df(spark):
    """Fixture labels as a JVM-native DataFrame
    (:func:`~netbase_spark.plans.broadcast_gate.local_frame`)."""
    from netbase_spark.plans.broadcast_gate import local_frame
    from netbase_spark.schemas import LABELS_SCHEMA

    rows = [
        (r["key"], r["label"], r["label_type"], r["lang"])
        for r in labels_fixture()
    ]
    return local_frame(spark, rows, LABELS_SCHEMA).coalesce(1)


def synonym_spark_df(spark):
    """raw_synonym_edges as a JVM-native 5-column triple DataFrame
    (:func:`~netbase_spark.plans.broadcast_gate.local_frame`)."""
    from netbase_spark.plans.broadcast_gate import local_frame

    rows = [(s, r, o, "raw", None) for s, r, o in raw_synonym_edges()]
    return local_frame(
        spark, rows, "subj string, rel int, obj string, rule string, doc_id string"
    ).coalesce(1)
