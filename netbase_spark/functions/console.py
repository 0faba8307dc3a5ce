"""Console command router — the ``parse(data, safeMode)`` surface.

Reference: the interactive console dispatches ``:cmd`` lines to engine
calls (src/console.cpp:172-735; help text 36-80): ``:learn`` inserts,
``:update T set P=V`` / ``:delete`` mutate, ``:merge a b`` merges,
``:all``/``:instances`` expand, ``:topics``/``:class`` enrich,
``:path``/``:has``/``:is`` traverse, ``:save``/``:load``/``:export``
persist, ``limit <n>`` sets paging, a bare word shows the node's
statements, and anything query-shaped runs through the query language.

Spark-first: the router holds ONE piece of state — the triple
DataFrame (immutable; mutations rebind it to a new plan, exactly the
set-semantics the operators already have).  Every command delegates to
the package operator that implements it; nothing is re-implemented
here, so the router certifies the operators compose.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from netbase_spark.plans.broadcast_gate import local_frame


class Console:
    """One reference-console session over a triple table."""

    # commands that rebind the triple table, write or read files, or
    # change the paging/view state every caller of a shared session sees
    MUTATING = frozenset({
        ":learn", ":update", ":delete", ":d", ":merge", ":ci", ":label",
        ":abstract", ":save", ":s", ":w", ":load", ":l", ":import", ":i",
        ":more", ":include", ":exclude", "limit",
    })

    @classmethod
    def mutates(cls, line: str) -> bool:
        """True if ``line`` runs a :attr:`MUTATING` command."""
        return (line or "").strip().partition(" ")[0].lower() in cls.MUTATING

    def __init__(
        self,
        spark: SparkSession,
        triples: DataFrame,
        alias_names: list[str] | None = None,
        blacklist: set[str] | None = None,
    ):
        self.spark = spark
        self.triples = triples
        # gazetteer for :entities; defaults lazily to the node-name set
        # (ids ARE display names in the console model)
        self.alias_names = alias_names
        self.blacklist = blacklist or set()
        self.limit: int | None = 200  # resultLimit default (webserver.cpp:41)
        # :include/:exclude predicate view filters (console.cpp:
        # 1555-1585 testInclude; netbase.js:8 id-predicate hiding)
        self.included: set[int] = set()
        self.excluded: set[int] = set()

    # -- helpers --------------------------------------------------------

    def _nodes(self, *names: str) -> DataFrame:
        return local_frame(self.spark, [(n,) for n in names], "node string")

    def _bool_df(self, value: bool) -> DataFrame:
        return local_frame(self.spark, [(value,)], "result boolean")

    # -- dispatcher -----------------------------------------------------

    def execute(self, line: str) -> DataFrame | None:
        """Run one console line; returns the result DataFrame (None for
        pure state changes such as ``limit`` / ``:save`` / ``:load``)."""
        line = (line or "").strip()
        if not line:
            return None
        cmd, _, rest = line.partition(" ")
        rest = rest.strip()
        c = cmd.lower()

        if c in (":learn",):
            from netbase_spark.operators.mutate import learn

            self.triples = learn(
                self.triples,
                local_frame(self.spark, [(rest,)], "sentence string"),
            )
            return self.triples
        if c in (":update",):
            # ":update Gehren set Population=244797" (console.cpp:73)
            m = re.match(r"^(.+?)\s+set\s+([\w .]+?)\s*=\s*(.+)$", rest, re.I)
            if not m:
                raise ValueError(f"unparseable update {rest!r}")
            from netbase_spark.operators.mutate import set_value

            self.triples = set_value(
                self.triples, m.group(1).strip(), m.group(2).strip(), m.group(3).strip()
            )
            return self.triples
        if c in (":delete", ":d"):
            from netbase_spark.operators.query_ops import (
                delete_node,
                delete_statement,
            )

            parts = rest.split()
            if len(parts) == 3 and re.fullmatch(r"-?\d+", parts[1]):
                self.triples = delete_statement(
                    self.triples, parts[0], int(parts[1]), parts[2]
                )
            else:
                self.triples = delete_node(self.triples, rest)
            return self.triples
        if c in (":merge",):
            from netbase_spark.operators.canonicalize import manual_merge

            a, b = rest.split()
            self.triples = manual_merge(
                self.triples,
                local_frame(self.spark, [(a, b)], "target string, node string"),
            )
            return self.triples
        if c in (":ci",):
            from netbase_spark.operators.extraction import collect_instances

            self.triples = collect_instances(self.triples)
            return self.triples
        if c in (":all", ":instances"):
            from netbase_spark.operators.query_ops import all_instances

            out = all_instances(self.triples, rest.lower())
            return out.limit(self.limit) if self.limit else out
        if c in (":topics", ":topic"):
            from netbase_spark.operators.query_ops import (
                sort_topics,
                topic_of,
                upward_edges,
            )

            fn = sort_topics if c == ":topics" else topic_of
            up = upward_edges(self.triples).select(
                F.col("node").alias("src"), F.col("anc").alias("dst")
            )
            return fn(self._nodes(rest), up)
        if c in (":class",):
            # getClass fallback chain order (src/query.cpp:2148-2169)
            from netbase_spark.operators.query_ops import class_of
            from netbase_spark.relations import INSTANCE, SUPER_CLASS, SYNONYM, TYPE

            return class_of(
                self._nodes(rest),
                self.triples,
                [SUPER_CLASS, TYPE, SYNONYM, INSTANCE],
            )
        if c in (":count",):
            from netbase_spark.operators.query_ops import count_instances

            return count_instances(self.triples).where(F.col("node") == rest)
        if c in (":path",):
            from netbase_spark.operators.query_ops import (
                find_path,
                instance_edges,
                subclass_edges,
            )

            a, b = rest.split()
            edges = instance_edges(self.triples).unionByName(
                subclass_edges(self.triples)
            )
            path = find_path(edges, a, b)
            return local_frame(
                self.spark,
                [(i, n) for i, n in enumerate(path or [])],
                "step int, node string",
            )
        if c in (":has",):
            from netbase_spark.operators.query_ops import member_path_exists

            a, b = rest.split()
            return self._bool_df(member_path_exists(self.triples, a, b))
        if c in (":is",):
            from netbase_spark.operators.query_ops import is_a_nodes

            a, b = rest.split()
            return self._bool_df(
                is_a_nodes(self.triples, self._nodes(a), b).count() > 0
            )
        if c in (":save", ":s", ":w"):
            from netbase_spark.operators.materialize import write_triples

            write_triples(self.triples, rest)
            return None
        if c in (":load", ":l"):
            self.triples = self.spark.read.parquet(rest)
            return None
        if c in (":export", ":e"):
            # node ids ARE display names in this model; the names
            # dimension is the identity map over the node set
            from netbase_spark.sources.tabular import export_statement_names

            names = (
                self.triples.select(F.col("subj").alias("key"))
                .unionByName(self.triples.select(F.col("obj").alias("key")))
                .distinct()
                .select("key", F.col("key").alias("name"))
            )
            return export_statement_names(self.triples, names)
        if c in (":import", ":i"):
            from netbase_spark.sources.router import import_any

            return import_any(self.spark, rest)
        if c in (":entities", ":ee"):
            # entity linking over ad-hoc text (console.cpp ":entities";
            # webserver.cpp "ee/" handler, 95-527)
            from netbase_spark.operators.mentions import detect_mentions_text

            if self.alias_names is None:
                self.alias_names = [
                    r["k"]
                    for r in self.triples.select(F.col("subj").alias("k"))
                    .unionByName(self.triples.select(F.col("obj").alias("k")))
                    .distinct()
                    .limit(100000)  # lookupLimit-style bound (netbase.hpp:253)
                    .collect()
                ]
            texts = local_frame(
                self.spark, [("console", rest)], "doc_id string, text string"
            )
            return detect_mentions_text(texts, self.alias_names, self.blacklist)
        if c in (":seo",):
            # buildSeoIndex lookup (src/netbase.cpp:2555-2593)
            from netbase_spark.normalize import seo_slug_col
            from netbase_spark.operators.gazetteer import seo_index
            from netbase_spark.operators.materialize import node_degrees

            labels = (
                self.triples.select(F.col("subj").alias("key"))
                .unionByName(self.triples.select(F.col("obj").alias("key")))
                .distinct()
                .select("key", F.col("key").alias("label"))
            )
            idx = seo_index(labels, node_degrees(self.triples))
            probe = local_frame(self.spark, [(rest,)], "q string").select(
                seo_slug_col(F.col("q")).alias("slug")
            )
            return idx.join(F.broadcast(probe), "slug")
        if c in (":type",):
            # getType (src/query.cpp:2128-2133)
            from netbase_spark.operators.query_ops import get_type

            return get_type(self.triples, [rest.lower()])
        if c in (":tree", ":subclasses"):
            line = f"subclasses of {rest}"
            cmd = ""
            c = ""
        if c in (":label", ":abstract") and rest:
            # setLabel rename (src/netbase.cpp:2385-2427): in the
            # console model node ids ARE names, so renaming is a
            # broadcast rewrite of the triple table
            from netbase_spark.operators.canonicalize import rewrite_triples

            parts = rest.split(None, 1)
            if len(parts) == 2:
                mapping = local_frame(
                    self.spark, [(parts[0], parts[1])], "node string, rep string"
                )
                self.triples = rewrite_triples(self.triples, mapping)
                return self.triples
        if c in (":more",):
            # :more doubles the page (console.cpp:240-244)
            self.limit = (self.limit or 200) * 2
            return None
        if c in (":include", ":exclude"):
            from netbase_spark.operators.mutate import rel_id_for

            rid = rel_id_for(rest)
            (self.included if c == ":include" else self.excluded).add(rid)
            return None
        if c == "limit":
            self.limit = int(rest) if rest and rest != "0" else None
            return None
        if c in (":select", ":query"):
            line = rest
        # console NL forms (help text, console.cpp:57-66)
        m = re.match(r"^(subclasses|entities|instances)\s+of\s+(.+?)(?:\s+limit\s+(\d+))?$", line, re.I)
        if m:
            kind, word, lim = m.group(1).lower(), m.group(2).strip().lower(), m.group(3)
            lim = int(lim) if lim else self.limit
            if kind == "subclasses":
                from netbase_spark.operators.query_ops import (
                    bfs_distances,
                    subclass_edges,
                )

                out = (
                    bfs_distances(
                        subclass_edges(self.triples), self._nodes(word)
                    )
                    .where(F.col("depth") > 0)
                    .select("node", "depth")
                )
            else:
                from netbase_spark.operators.query_ops import all_instances

                out = all_instances(self.triples, word)
            return out.limit(lim) if lim else out
        # property question ("Population of Gehren") else query language
        from netbase_spark.functions.query_lang import (
            is_nl_query,
            parse_properties,
            property_question,
            run_graph_query,
        )

        if " " in line or "." in line:
            # NL list prefixes ("types of X", "list of X") are fixQuery
            # rewrites, NOT property questions — parse_properties' generic
            # "... of ..." shape would otherwise shadow them
            if (
                not is_nl_query(line)
                and parse_properties(line) is not None
                and not re.search(r"\bwhere\b|\bfrom\b|=", line, re.I)
            ):
                return property_question(line, self.triples, limit=self.limit)
            return run_graph_query(line, self.triples, limit=self.limit)
        # bare word: show the node's statements (console.cpp:704-734)
        from netbase_spark.operators.query_ops import list_statements

        out = list_statements(self.triples, line.lower())
        if self.included:
            out = out.where(F.col("rel").isin(list(self.included)))
        if self.excluded:
            out = out.where(~F.col("rel").isin(list(self.excluded)))
        return out
