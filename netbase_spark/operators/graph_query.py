"""Conjunctive basic-graph-pattern (BGP) matching over the triple table.

The reference's query surface composes per-subject condition trees
(filter And/Or trees, src/query.cpp:735-833; bare where-terms
src/query.cpp:1506-1533) and fixed multi-hop shapes (getTopic chains,
src/query.cpp:2171; findProperties legs, src/query.cpp:2127-2351).  A
BGP generalizes both: a list of (subj, rel, obj) patterns over shared
variables — "?x Instance city, ?x population ?p" — evaluated as a join
tree.  This is the SPARQL-core fragment a triple store needs; on Spark
it is a sequence of self-joins over the one triple table, so the whole
planner's job is ORDER and JOIN STRATEGY:

- patterns are ordered most-constant-first (a (c, c, ?v) pattern is a
  point/range scan; a (?a, c, ?b) pattern is a predicate partition; a
  fully-variable pattern is a full scan) — the classic selectivity
  heuristic, applied statically so the plan is deterministic;
  ties keep user order, and patterns sharing NO variable with the
  bindings so far are deferred (joining them early would be a
  cartesian product);
- each step filters the triple table on the pattern's constants
  (predicate/subject pushdown reaches the scan — rel is the partition
  column of the canonical table, materialize.write_triples) and joins
  on the shared variables; Catalyst/AQE pick broadcast vs shuffle from
  runtime sizes, so a selective first pattern makes every later join
  broadcast-sized;
- a pattern with no shared variable left (disconnected component)
  falls back to an explicit crossJoin LAST, when bindings are already
  minimal — documented, not accidental.

Variables are ``?name`` strings; constants are matched with equality
(rel constants as ints).  A rel slot may also hold a :class:`Path` —
a bounded SPARQL property-path term ``rel+`` / ``rel*`` compiled onto
the same iterative-closure machinery as ``isa_closure``
(src/query.cpp:902-1046 is the reference's recursion surface; here the
closure table simply substitutes for the triple scan in that pattern's
join step).  Output: one column per variable in first-appearance order
over the USER's pattern list (required block first, then each
optional entry), distinct bindings by default (set semantics, like the
reference's dedup-at-insert result lists).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from netbase_spark.operators.frontier import (
    _unpin,
    driver_rows,
    frontier_levels,
    reach,
    union_all,
)
from netbase_spark.plans.broadcast_gate import local_frame

_POS = ("subj", "rel", "obj")


class PathBoundExceeded(ValueError):
    """A strict Path's closure was still growing at ``max_hops`` — the
    bound truncated real reachability instead of covering it."""


class Path:
    """Bounded property-path term for the rel slot of a BGP pattern:
    ``Path(rel, "+")`` is one-or-more hops, ``Path(rel, "*")`` is
    zero-or-more, both bounded at ``max_hops`` (the reference's
    recursion surface is depth-bounded too: ``all_instances2/3`` carry
    an explicit depth, src/query.cpp:902-1046).  ``rel`` may be a
    list/tuple of rel constants — SPARQL alternation ``(a|b)+``, hops
    may mix the alternatives.  ``inverse=True`` walks edges obj->subj
    (SPARQL ``^rel``).  ``op="?"`` is zero-or-one (max_hops ignored).
    The zero-hop identity of ``*`` and ``?`` ranges over every node
    occurring in the triple table (subj or obj side).

    **Bound semantics**: by default pairs deeper than ``max_hops`` are
    silently absent — the reference's depth-bounded recursion semantics,
    right when the bound is chosen from known taxonomy depth.  Over a
    graph whose depth is NOT known (a 100x-deeper taxonomy), pass
    ``strict=True``: the closure then verifies convergence with one
    extra expansion step at the bound and raises
    :class:`PathBoundExceeded` if pairs beyond ``max_hops`` exist, so
    truncation is loud, never silent."""

    __slots__ = ("rel", "op", "max_hops", "inverse", "strict")

    def __init__(self, rel, op: str = "+", max_hops: int = 10,
                 inverse: bool = False, strict: bool = False):
        if op not in ("+", "*", "?"):
            raise ValueError(f"Path op must be '+', '*' or '?', got {op!r}")
        if max_hops < 1:
            raise ValueError("Path max_hops must be >= 1")
        if isinstance(rel, (list, tuple)):
            if not rel:
                raise ValueError("Path alternation needs >= 1 rel")
            rel = tuple(rel)
        self.rel, self.op, self.max_hops = rel, op, max_hops
        self.inverse = bool(inverse)
        self.strict = bool(strict)

    def _rels(self) -> tuple:
        return self.rel if isinstance(self.rel, tuple) else (self.rel,)

    def _key(self):
        return (self._rels(), self.op, self.max_hops, self.inverse,
                self.strict)


class NotRel:
    """Negated property set for the rel slot of a plain (single-hop)
    pattern: ``NotRel([a, b])`` matches triples whose rel is NOT one of
    the listed constants — SPARQL ``!(a|b)`` (the predicate is not
    bound).  ``inverse=True`` walks the matching edges obj->subj."""

    __slots__ = ("rels", "inverse")

    def __init__(self, rels, inverse: bool = False):
        if not isinstance(rels, (list, tuple)) or not rels:
            raise ValueError("NotRel needs a non-empty list of rels")
        self.rels = tuple(rels)
        self.inverse = bool(inverse)


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _selectivity(pattern) -> int:
    """Lower sorts earlier: count of variables (0 = all constants).
    A Path term is a constant for ordering (it fixes the edge set),
    though its closure step is costlier than a plain rel filter."""
    return sum(1 for t in pattern if _is_var(t))


def rel_counts(triples: DataFrame) -> dict:
    """Per-rel row counts for statistics-driven BGP ordering: ONE
    aggregation over the (dimension-sized) rel domain, collected to a
    dict the caller passes to :func:`bgp_match` as ``rel_stats`` —
    compute once per snapshot, reuse across queries (on a
    rel-partitioned table this is partition metadata)."""
    return {
        r["rel"]: r["n"]
        for r in triples.groupBy("rel").agg(F.count(F.lit(1)).alias("n")).collect()
    }


#: point-binding selectivity guess: each constant subj/obj divides a
#: pattern's estimated rows by this (per-rel counts say nothing about
#: subj/obj constants, but a bound node is far more selective than a
#: bound predicate — any large constant keeps the ordering stable)
_CONST_SELECTIVITY = 1e4


def _ordered_indices(patterns: list, rel_stats: dict | None) -> list[int]:
    """Evaluation-order priority of ``patterns`` (lower index = joined
    earlier, subject to the shared-variable preference downstream).

    Without stats: the static most-constant-first heuristic, user order
    for ties — fully deterministic, no data dependence.  With
    ``rel_stats`` (per-rel row counts from :func:`rel_counts`): order by
    ESTIMATED rows instead — a constant rel costs its partition's count,
    a variable/negated rel the whole table, a Path the sum of its
    alternatives' counts (closure lower bound), and each constant
    subj/obj divides by ``_CONST_SELECTIVITY``.  This fixes the
    inversion where the constant-count heuristic puts a huge constant
    partition (e.g. Instance) before a tiny variable-rel pattern."""
    if rel_stats is None:
        return sorted(
            range(len(patterns)), key=lambda i: (_selectivity(patterns[i]), i)
        )
    total = float(sum(rel_stats.values())) or 1.0

    def est(p) -> float:
        rel = p[1]
        if isinstance(rel, Path):
            cnt = float(sum(rel_stats.get(r, 0) for r in rel._rels()))
        elif isinstance(rel, NotRel):
            cnt = max(
                0.0, total - sum(rel_stats.get(r, 0) for r in rel.rels)
            )
        elif _is_var(rel):
            cnt = total
        else:
            cnt = float(rel_stats.get(rel, 0))
        for t in (p[0], p[2]):
            if not _is_var(t):
                cnt /= _CONST_SELECTIVITY
        return cnt

    return sorted(range(len(patterns)), key=lambda i: (est(patterns[i]), i))


def _const_compatible(term, dtype) -> bool:
    """Can a Python constant inhabit a column of this Spark type?"""
    from pyspark.sql import types as T

    if isinstance(dtype, T.StringType):
        return isinstance(term, str)
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return isinstance(term, int) and not isinstance(term, bool)
    return True  # other types: let Spark's own coercion rules decide


def path_closure(
    triples: DataFrame, path: Path, driver_threshold: int = 200_000
) -> DataFrame:
    """(subj, obj) pairs connected by 1..max_hops (``+``) or
    0..max_hops (``*``) edges of ``path.rel``.  Size-adaptive like
    ``isa_closure``: below ``driver_threshold`` edges, one collect +
    bounded Python BFS (``frontier.reach``; rel-filtered edge sets are
    dimension-sized in a KG — taxonomy/containment rels — so this is
    the common case); above it, the semi-naive frontier loop
    (``frontier.frontier_levels``), one pinned level per hop count,
    each anti-joined against the earlier levels so each pair is found
    at its shortest depth exactly once and the loop stops as soon as a
    level adds nothing.  Cyclic edges are fine: a node reachable from
    itself within the bound yields a (n, n) pair under ``+`` (and every
    node yields one under ``*``).  ``path.strict`` allows both branches
    one level past ``max_hops`` and raises if it is non-empty.

    Lifetime: the distributed branch's result is the lazy union of the
    pinned levels; their blocks are context-cleaner managed — freed
    when the caller drops the query result — the same discipline as
    the dedup family's materialized candidate tables."""
    rels = [
        r for r in path._rels()
        if _const_compatible(r, triples.schema["rel"].dataType)
    ]
    if not rels:
        # every alternative is type-incompatible: empty edge set (the
        # identity of * /? still applies via _with_identity)
        edges = triples.where(F.lit(False)).select("subj", "obj")
    else:
        cond = (
            F.col("rel") == F.lit(rels[0]) if len(rels) == 1
            else F.col("rel").isin(list(rels))
        )
        edges = triples.where(cond).select("subj", "obj").dropDuplicates()
    if path.inverse:
        edges = edges.select(
            F.col("obj").alias("subj"), F.col("subj").alias("obj")
        )
    st = triples.schema["subj" if not path.inverse else "obj"].dataType.simpleString()
    ot = triples.schema["obj" if not path.inverse else "subj"].dataType.simpleString()

    def _with_identity(closure: DataFrame) -> DataFrame:
        # disjoint subj/obj domains: no identity pair is representable
        # (and none could match), so *?/ degrade to their hop tiers
        if path.op not in ("*", "?") or st != ot:
            return closure
        nodes = (
            triples.select(F.col("subj").alias("n"))
            .unionByName(triples.select(F.col("obj").alias("n")))
            .distinct()
        )
        ident = nodes.select(F.col("n").alias("subj"), F.col("n").alias("obj"))
        return closure.unionByName(ident).dropDuplicates()

    if path.op == "?" or st != ot:
        # zero-or-one: the single-hop edge set plus the node identity.
        # Disjoint subj/obj domains also land here for '+'/'*': hops
        # cannot compose across types, so the closure IS the edge set.
        return _with_identity(edges)

    # loud-bound check: one level past the bound; anything in it means
    # pairs beyond max_hops exist (a converged walk stops before it)
    hops = path.max_hops + 1 if path.strict else path.max_hops
    beyond = PathBoundExceeded(
        f"path closure still growing at max_hops={path.max_hops}; "
        "raise max_hops or drop strict=True for the reference's "
        "truncating semantics"
    )
    pairs = driver_rows(edges, driver_threshold)
    if pairs is not None:
        got = list(reach(pairs, max_hops=hops))
        if any(d > path.max_hops for _, _, d in got):
            raise beyond
        rows = [(n, b) for n, b, _ in got]
        out = local_frame(triples.sparkSession, rows, f"subj {st}, obj {ot}")
        return _with_identity(out)

    e2 = None

    def expand(frontier: DataFrame, _depth: int) -> DataFrame:
        nonlocal e2
        if e2 is None:  # the first frontier is level 0, the edge set
            e2 = frontier.select(
                F.col("subj").alias("e_s"), F.col("obj").alias("e_o")
            )
        return frontier.join(e2, frontier["obj"] == e2["e_s"]).select(
            frontier["subj"].alias("subj"), F.col("e_o").alias("obj")
        )

    levels, _ = frontier_levels(edges, expand, ["subj", "obj"], max_levels=hops)
    if len(levels) > path.max_hops:
        for level in levels:
            _unpin(level)
        raise beyond
    return _with_identity(union_all(levels))


def _pos_terms(pat) -> list[tuple[str, object]]:
    """The (source column, term) pairs a pattern binds: all three slots
    for a plain pattern, subj/obj only for a Path/NotRel pattern (the
    closure table has no rel column; a negated set never binds the
    predicate)."""
    if isinstance(pat[1], (Path, NotRel)):
        return [("subj", pat[0]), ("obj", pat[2])]
    return list(zip(_POS, pat))


def _slot_dtype(pat, col, dtype_of):
    """Domain type of a pattern slot: for an inverse Path/NotRel the
    step table's subj column carries triple-OBJ values and vice versa."""
    if isinstance(pat[1], (Path, NotRel)) and pat[1].inverse:
        return dtype_of["obj" if col == "subj" else "subj"]
    return dtype_of[col]


def _step_df(triples: DataFrame, pat, closures: dict) -> DataFrame:
    rel = pat[1]
    if isinstance(rel, Path):
        return closures[rel._key()]
    if isinstance(rel, NotRel):
        # type-incompatible entries can never match a rel, so they drop
        # out of the negated set (same constant-type rule as Path._rels
        # filtering) instead of raising/implicitly casting in the isin
        rels = [
            r for r in rel.rels
            if _const_compatible(r, triples.schema["rel"].dataType)
        ]
        step = triples
        if rels:
            step = step.where(~F.col("rel").isin(rels))
        step = step.select("subj", "obj")
        if rel.inverse:
            step = step.select(
                F.col("obj").alias("subj"), F.col("subj").alias("obj")
            )
        return step
    return triples


def _pattern_step(source: DataFrame, pos_terms) -> tuple[DataFrame, list[str]]:
    """Filter ``source`` on the pattern's constants and project its
    variables (repeated variables inside the pattern become equality
    filters).  Returns (step_df, unique ?vars in position order); a
    variable-free pattern projects a single ``_one`` literal."""
    step = source
    for col, term in pos_terms:
        if not _is_var(term):
            step = step.where(F.col(col) == F.lit(term))
    seen: dict[str, str] = {}
    cols = []
    for col, term in pos_terms:
        if _is_var(term):
            if term in seen:
                step = step.where(F.col(col) == F.col(seen[term]))
            else:
                seen[term] = col
                cols.append(F.col(col).alias(term[1:]))
    step = step.select(*cols) if cols else step.select(F.lit(1).alias("_one"))
    return step, list(seen)


def _validate_pattern(p):
    if len(p) != 3:
        raise ValueError(f"pattern must be (subj, rel, obj): {p!r}")
    if isinstance(p[0], (Path, NotRel)) or isinstance(p[2], (Path, NotRel)):
        raise ValueError(
            f"Path/NotRel terms are only valid in the rel slot: {p!r}"
        )


def _entry_patterns(entry) -> list[tuple]:
    """An optional/not_exists entry is a single (s, r, o) tuple or a
    LIST of them (a group graph pattern, evaluated as one sub-BGP)."""
    if isinstance(entry, list):
        return entry
    return [entry]


def bgp_match(
    triples: DataFrame,
    patterns: list[tuple],
    distinct: bool = True,
    optional: list | None = None,
    not_exists: list | None = None,
    values: list[dict] | None = None,
    rel_stats: dict | None = None,
    _closures: dict | None = None,
) -> DataFrame:
    """Match a conjunctive BGP; returns bindings for every variable,
    columns ordered by first appearance in the user's ``patterns`` list
    (then each ``optional`` entry's new variables, in entry order).

    ``patterns`` is a list of (subj, rel, obj) with ``?var`` strings in
    any position and optionally a :class:`Path` in the rel slot (bounded
    ``+``/``*`` property path — that step joins the path's closure table
    instead of the triple scan).  Raises on zero patterns; constant-only
    patterns act as existence filters via an inner join on no columns ==
    a semi-join guard, implemented as a crossJoin with the 0/1-row
    filtered table.

    ``optional`` entries LEFT-join after the required block (SPARQL
    OPTIONAL): their new variables bind where the entry matches and are
    null elsewhere.  An entry is a single pattern or a LIST of patterns
    — a group graph pattern, evaluated as one sub-BGP whose internal
    shared variables correlate (``OPTIONAL { ?x a ?y . ?y b ?z }``).
    Distinct entries stay independent: a new variable appearing in two
    separate entries raises — put correlated patterns in one group.
    ``not_exists`` entries ANTI-join (SPARQL FILTER NOT EXISTS):
    bindings with a match are removed; variables appearing only there
    are existential, never output; groups are allowed here too.  Every
    entry must share at least one variable with the required block.
    The cross-domain type rule applies throughout: an optional entry
    that can never match contributes null columns; an impossible
    not_exists entry removes nothing.  Optional/not_exists steps are
    deduplicated on their kept columns before joining, so solution
    multiplicity under ``distinct=False`` treats the graph as a SET of
    triples (the reference's dedup-at-insert invariant,
    src/netbase.cpp:760-767).

    ``values`` is a SPARQL VALUES block: a list of ``{"?var": const}``
    dicts inner-joined onto the required block (driver-side inline
    bindings — seed lists, parameterized queries).  At least one
    variable must be shared with the required patterns (scale
    discipline, as for optional entries); other variables are NEW
    columns supplied by the block.  ``None`` is UNDEF: that row leaves
    the variable unconstrained (shared) or null (new) — rows are
    grouped by their defined-variable signature and each group joins on
    exactly its defined shared variables.  A value whose type cannot
    inhabit its shared variable's column matches nothing (the row is
    dropped), mirroring the constant type rule.

    ``rel_stats`` (optional) is a per-rel row-count dict from
    :func:`rel_counts`: pattern order then follows ESTIMATED rows
    instead of the static constant-count heuristic, so a huge constant
    partition (Instance) no longer evaluates before a tiny variable-rel
    pattern.  Results are identical either way — only the join order
    (and so the intermediate sizes) changes."""
    if not patterns:
        raise ValueError("bgp_match needs at least one pattern")
    for p in patterns:
        _validate_pattern(p)
    for entry in list(optional or []) + list(not_exists or []):
        for p in _entry_patterns(entry):
            _validate_pattern(p)

    # evaluation order: static most-constant-first by default; with
    # rel_stats (see rel_counts) estimated-rows order — still
    # deterministic for a given stats snapshot
    ordered = _ordered_indices(patterns, rel_stats)

    # symbolic pre-pass: fix the execution sequence (shared-variable
    # preference, see below), the output column order, and each
    # variable's column TYPE.  A variable bound in two positions whose
    # input columns have different Spark types (e.g. string subj vs int
    # rel) can never match — the domains are disjoint — so the result
    # is EMPTY by semantics; executing the join anyway would make ANSI
    # mode throw a cast error on the first string node id.  The
    # pre-pass returns the execution plan for the normal case and
    # detects the conflict for the empty short-circuit.
    dtype_of = {c: triples.schema[c].dataType for c in _POS}
    pending_sym = [patterns[i] for i in ordered]
    sequence: list[tuple] = []
    var_type: dict[str, object] = {}
    bound_sym: set[str] = set()
    conflict = False
    while pending_sym:
        idx = 0
        if bound_sym:
            for j, p in enumerate(pending_sym):
                if any(_is_var(t) and t in bound_sym for t in p):
                    idx = j
                    break
        pat = pending_sym.pop(idx)
        sequence.append(pat)
        rel = pat[1]
        if isinstance(rel, Path):
            # an incompatible ALTERNATIVE just matches nothing (SPARQL
            # a|b keeps a); only an all-incompatible '+' can never match
            if rel.op == "+" and not any(
                _const_compatible(r, dtype_of["rel"]) for r in rel._rels()
            ):
                conflict = True
            # disjoint subj/obj domains are NOT a conflict for any op:
            # the closure degrades to the single-hop tier (identity and
            # multi-hop composition are unrepresentable across types)
        for col, term in _pos_terms(pat):
            if _is_var(term):
                dt = _slot_dtype(pat, col, dtype_of)
                if term in var_type:
                    if var_type[term] != dt:
                        conflict = True
                else:
                    var_type[term] = dt
                bound_sym.add(term)
            elif not _const_compatible(term, _slot_dtype(pat, col, dtype_of)):
                # SPARQL-style: a constant whose type cannot inhabit the
                # column (string literal in an int rel slot) matches
                # nothing — same empty short-circuit as a var conflict
                conflict = True

    # output column order: first appearance over the USER's pattern
    # list, not the selectivity-reordered execution sequence
    var_order: list[str] = []
    for pat in patterns:
        for _col, term in _pos_terms(pat):
            if _is_var(term) and term[1:] not in var_order:
                var_order.append(term[1:])

    # --- VALUES block: symbolic plan (before _side_plan so optional/
    # not_exists entries may share the block's variables) -------------
    values_plan = None
    if values:
        from pyspark.sql import types as T

        vvars: list[str] = []
        for row in values:
            if not isinstance(row, dict):
                raise ValueError("values must be a list of {'?var': const} dicts")
            for k in row:
                if not _is_var(k):
                    raise ValueError(f"values keys must be ?vars, got {k!r}")
                if k not in vvars:
                    vvars.append(k)
        if not vvars:
            raise ValueError("values rows bind no variables")
        v_shared = [v for v in vvars if v in bound_sym]
        v_new = [v for v in vvars if v not in bound_sym]
        if not v_shared:
            raise ValueError(
                "values block shares no variable with the required patterns"
            )
        inferred: dict[str, object] = {}
        for v in v_new:
            pyvals = [row[v] for row in values if row.get(v) is not None]
            if not pyvals:
                raise ValueError(f"values variable {v!r} is UNDEF in every row")
            kinds = {type(x) for x in pyvals}
            if kinds == {str}:
                inferred[v] = T.StringType()
            elif kinds == {int}:
                inferred[v] = T.LongType()
            elif kinds == {float}:
                inferred[v] = T.DoubleType()
            else:
                raise ValueError(
                    f"values variable {v!r} has unsupported or mixed "
                    f"types {sorted(k.__name__ for k in kinds)}"
                )
            var_type[v] = inferred[v]
            bound_sym.add(v)
            if v[1:] not in var_order:
                var_order.append(v[1:])
        # rows grouped by defined-variable signature; type-incompatible
        # shared values drop the row (it can never match)
        groups: dict[tuple, list[dict]] = {}
        for row in values:
            defined = tuple(v for v in vvars if row.get(v) is not None)
            if any(
                v in var_type and not _const_compatible(row[v], var_type[v])
                for v in defined
            ):
                continue
            groups.setdefault(defined, []).append(row)
        values_plan = (vvars, v_shared, v_new, inferred, groups)

    def _side_plan(entries, kind):
        """Symbolic pass for optional/not_exists entries: per entry
        (patterns, possible?, vars shared with the required block, new
        vars with their types).  Validates the shared-variable rule and
        the no-correlation-across-entries rule (groups correlate
        INSIDE themselves)."""
        plan = []
        seen_new: set[str] = set()
        for entry in entries or []:
            pats = _entry_patterns(entry)
            possible = True
            shared: list[str] = []
            new: list[tuple[str, object]] = []
            local_type: dict[str, object] = {}
            for pat in pats:
                rel = pat[1]
                if isinstance(rel, Path):
                    if rel.op == "+" and not any(
                        _const_compatible(r, dtype_of["rel"])
                        for r in rel._rels()
                    ):
                        possible = False

                for col, term in _pos_terms(pat):
                    if _is_var(term):
                        dt = _slot_dtype(pat, col, dtype_of)
                        known = var_type.get(term, local_type.get(term))
                        if known is not None and known != dt:
                            possible = False
                        if term in bound_sym:
                            if term not in shared:
                                shared.append(term)
                        elif term not in local_type:
                            local_type[term] = dt
                            new.append((term, dt))
                    elif not _const_compatible(
                        term, _slot_dtype(pat, col, dtype_of)
                    ):
                        possible = False
            if not shared:
                raise ValueError(
                    f"{kind} entry {entry!r} shares no variable with the "
                    "required patterns"
                )
            if kind == "optional":
                for v, _dt in new:
                    if v in seen_new:
                        raise ValueError(
                            f"optional variable {v!r} appears in two optional "
                            "entries; entries are independent — put "
                            "correlated patterns in one group (a list)"
                        )
                    seen_new.add(v)
            plan.append((pats, possible, shared, new))
        return plan

    opt_plan = _side_plan(optional, "optional")
    ne_plan = _side_plan(not_exists, "not_exists")

    if conflict:
        from pyspark.sql import types as T

        # var_order already includes values-block new variables (their
        # types live in var_type via the inference above)
        fields = [
            T.StructField(name, var_type["?" + name]) for name in var_order
        ]
        # the required block can never match, so optional vars are all
        # null — but they are still output columns
        for _pats, _possible, _shared, new in opt_plan:
            fields.extend(T.StructField(v[1:], dt) for v, dt in new)
        return local_frame(triples.sparkSession, [], T.StructType(fields))

    # build each distinct Path's closure table exactly once (group
    # sub-BGPs receive the parent's dict so a path inside an optional
    # group does not rebuild its closure)
    closures: dict = _closures if _closures is not None else {}
    for entry in (
        list(patterns)
        + [p for e in (optional or []) for p in _entry_patterns(e)]
        + [p for e in (not_exists or []) for p in _entry_patterns(e)]
    ):
        rel = entry[1]
        if isinstance(rel, Path) and rel._key() not in closures:
            closures[rel._key()] = path_closure(triples, rel)

    out: DataFrame | None = None
    bound: set[str] = set()

    for pat in sequence:
        pos_terms = _pos_terms(pat)
        step, pvars = _pattern_step(_step_df(triples, pat, closures), pos_terms)
        if not pvars:
            # constant-only pattern: existence guard
            step = step.limit(1)

        if out is None:
            out = step
        else:
            on = list(dict.fromkeys(v[1:] for v in pvars if v in bound))
            if not pvars:
                # constant-only existence guard: inner join with the
                # 0/1-row table keeps or empties the bindings
                out = out.crossJoin(step).drop("_one")
            elif not on:
                out = out.crossJoin(step)  # disconnected component, deferred
            else:
                out = out.join(step, on)
        bound.update(pvars)

    if values_plan is not None:
        from pyspark.sql import types as T

        vvars, v_shared, v_new, inferred, groups = values_plan
        branches = []
        for defined, rows in groups.items():
            sh_def = [v for v in defined if v in v_shared]
            schema = T.StructType(
                [
                    T.StructField(v[1:], var_type[v])
                    for v in defined
                ]
            )
            vdf = local_frame(
                triples.sparkSession,
                [[row[v] for v in defined] for row in rows],
                schema,
            ).dropDuplicates()
            if sh_def:
                b = out.join(vdf, [v[1:] for v in sh_def])
            else:
                b = out.crossJoin(vdf)
            for v in v_new:
                if v not in defined:
                    b = b.withColumn(v[1:], F.lit(None).cast(inferred[v]))
            branches.append(b.select(*out.columns, *[v[1:] for v in v_new]))
        if branches:
            res = branches[0]
            for b in branches[1:]:
                res = res.unionByName(b)
            out = res
        else:
            # every row was type-incompatible: VALUES constrains to empty
            out = out.where(F.lit(False))
            for v in v_new:
                out = out.withColumn(v[1:], F.lit(None).cast(inferred[v]))
        bound.update(vvars)

    def _entry_step(pats, shared, new):
        """One optional/not_exists entry as a DataFrame over its kept
        columns: single patterns run the plain step; groups run a
        sub-BGP (internal shared variables correlate).  Either way the
        result is deduplicated on the kept columns (set-of-triples
        multiplicity, see the docstring)."""
        keep = [t[1:] for t in shared] + [v[1:] for v, _dt in new]
        if len(pats) == 1:
            step, _pv = _pattern_step(
                _step_df(triples, pats[0], closures), _pos_terms(pats[0])
            )
        else:
            step = bgp_match(triples, pats, distinct=True, _closures=closures)
        return step.select(*keep).dropDuplicates(keep)

    # OPTIONAL: left-join each entry on its required-shared variables;
    # an impossible entry (type conflict) contributes its new columns
    # as typed nulls
    for pats, possible, shared, new in opt_plan:
        if possible:
            step = _entry_step(pats, shared, new)
            out = out.join(step, [t[1:] for t in shared], "left")
        else:
            for v, dt in new:
                out = out.withColumn(v[1:], F.lit(None).cast(dt))
        var_order.extend(v[1:] for v, _dt in new)

    # FILTER NOT EXISTS: anti-join on the required-shared variables;
    # an impossible entry matches nothing, so it removes nothing
    for pats, possible, shared, _new in ne_plan:
        if possible:
            step = _entry_step(pats, shared, [])
            on = [t[1:] for t in shared]
            out = out.join(step, on, "left_anti")

    res = out.select(*var_order) if var_order else out
    return res.distinct() if distinct else res
