"""Relational layer over code_units (SURVEY.md P19-P32, E7 batch forms).

- shadowing_dedup: MATLAB path-precedence dedup per (host, identifier).
- folder_rollup: directory aggregation with Contents.m docstring fallback.
- class_edges / class_mro / inherited_members: the batch inheritance
  pipeline — resolved base edges carry their declaration position, the
  engine's one connected-components solve (operators/dedup.py) labels each
  inheritance component, and one applyInPandas group per component runs
  C3 over its classes with bases in declaration order.
- builtin doc-link join: broadcast dim-table join (P32).

Scale notes: groups are inheritance components, never hosts, so a mega
host spreads over as many groups as it has unrelated hierarchies, and a
component is as large as one project's class tree. The components solve
runs on the driver below its edge threshold and otherwise as the
distributed star loop, which raises at its round cap. A class whose
ancestors form a cycle (a self-base included) degrades to the MRO [cls]
(reference objects.py:815-820 raises on the same condition).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from maxx_spark.operators.dedup import connected_components


def with_host(units: DataFrame) -> DataFrame:
    return units.withColumn(
        "host", F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)/", 1)
    )


def path_rank(units: DataFrame) -> DataFrame:
    """MATLAB search-path precedence proxy: shallower paths outrank deeper
    ones; ties break on url. (reference collection.py:467 — first path on
    the ordered search path wins.)"""
    depth = F.size(F.split(F.col("url"), "/"))
    return units.withColumn("path_rank", depth)


def shadowing_dedup(units: DataFrame) -> DataFrame:
    """E7: one winner per (host, unit_path) under precedence order."""
    u = path_rank(with_host(units))
    w = Window.partitionBy("host", "unit_path").orderBy("path_rank", "url", "warc_ts")
    return (
        u.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "path_rank")
    )


def folder_rollup(units: DataFrame) -> DataFrame:
    """P19: per-(host, folder) member aggregation. The folder docstring is
    its Contents.m docstring, falling back to a README.md/readme.md page in
    the same folder (reference collection.py:220-295: README is consulted
    only when the docstring is still None). One pass + a folder-keyed
    self-aggregate join; both sides are pre-aggregated so the join is tiny."""
    u = with_host(units)
    folder = F.regexp_replace(F.col("url"), r"/[^/]+$", "")
    file_units = u.where(
        (F.col("parent_path").isNull() | F.col("parent_path").startswith("+"))
        & ~F.col("kind").isin("readme", "error")
    )
    agg = (
        file_units.withColumn("folder", folder)
        .groupBy("host", "folder")
        .agg(
            F.sort_array(F.collect_list("unit_path")).alias("member_paths"),
            F.count(F.lit(1)).alias("n_members"),
            F.max(
                F.when(F.col("name") == "Contents", F.col("docstring"))
            ).alias("contents_docstring"),
        )
    )
    readmes = (
        u.where(F.col("kind") == "readme")
        .withColumn("folder", folder)
        .groupBy("host", "folder")
        .agg(F.max("docstring").alias("readme_docstring"))
    )
    return agg.join(readmes, ["host", "folder"], "left").select(
        "host",
        "folder",
        "member_paths",
        "n_members",
        F.coalesce(F.col("contents_docstring"), F.col("readme_docstring")).alias(
            "folder_docstring"
        ),
    )


# ---------------------------------------------------------------------------
# inheritance (P25-P27)
# ---------------------------------------------------------------------------


def class_edges(units: DataFrame) -> DataFrame:
    """(host, cls, base, pos) edges, bases resolved host-locally against
    known unit paths — unresolvable bases (builtins like `handle`) drop
    out, as in the reference's resolved_bases (objects.py:794-808). ``pos``
    is the base's declaration position (C3's local precedence order); a
    class defined twice on one host keeps each base's minimum position."""
    u = with_host(units)
    classes = u.where(F.col("kind") == "class").select(
        "host",
        F.col("unit_path").alias("cls"),
        F.posexplode("bases").alias("pos", "base_name"),
    )
    defs = (
        u.where(F.col("kind") == "class")
        .select("host", F.col("unit_path").alias("base"))
        .distinct()
        .withColumnRenamed("host", "d_host")
    )
    return (
        classes.join(
            defs,
            (classes.host == defs.d_host) & (classes.base_name == defs.base),
        )
        .groupBy("host", "cls", "base")
        .agg(F.min("pos").alias("pos"))
    )


def _c3_merge(seqs: list[list[str]]) -> list[str]:
    """C3 linearization merge, written from the published algorithm."""
    seqs = [list(s) for s in seqs if s]
    out: list[str] = []
    while seqs:
        head = None
        for s in seqs:
            cand = s[0]
            if not any(cand in t[1:] for t in seqs):
                head = cand
                break
        if head is None:  # inconsistent hierarchy — bail to bfs order
            raise ValueError("inconsistent MRO")
        out.append(head)
        seqs = [[x for x in t if x != head] for t in seqs]
        seqs = [t for t in seqs if t]
    return out


def _c3_linearize(cls: str, parents: dict[str, list[str]], seen: tuple = ()) -> list[str]:
    if cls in seen:
        raise ValueError(f"inheritance cycle at {cls}")
    ps = parents.get(cls, [])
    return _c3_merge(
        [[cls]]
        + [_c3_linearize(p, parents, seen + (cls,)) for p in ps]
        + [list(ps)]
    )


MRO_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("cls", StringType()),
        StructField("mro_pos", IntegerType()),
        StructField("ancestor", StringType()),
    ]
)


def class_mro(units: DataFrame) -> DataFrame:
    """Exact C3 MRO per class, linearized per inheritance component: the
    base edges go through connected_components on the node key host/cls,
    and one applyInPandas group per component linearizes all of its
    classes. A class with no edge is its own component."""

    def node(col: str):  # unique: with_host never yields a host containing '/'
        return F.concat("host", F.lit("/"), col)

    edges = class_edges(units)
    comps = connected_components(edges.select(node("cls"), node("base"))).select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("component")
    )
    classes = with_host(units).where(F.col("kind") == "class").select(
        "host", F.col("unit_path").alias("cls")
    ).distinct()
    rows = (
        classes.join(edges, ["host", "cls"], "left")
        .withColumn("node", node("cls"))
        .join(comps, "node", "left")
        .withColumn("component", F.coalesce("component", "node"))
    )

    def linearize(pdf: pd.DataFrame) -> pd.DataFrame:
        parents: dict[str, list[str]] = {}
        declared = pdf.dropna(subset=["base"]).sort_values(["pos", "base"])
        for cls, base in zip(declared["cls"], declared["base"]):
            parents.setdefault(cls, []).append(base)
        out = []
        for cls in pdf["cls"].unique():
            try:
                order = _c3_linearize(cls, parents)
            except ValueError:
                order = [cls]  # cycle / inconsistency → degrade to self
            out += [(cls, pos, anc) for pos, anc in enumerate(order)]
        mro = pd.DataFrame(out, columns=["cls", "mro_pos", "ancestor"])
        mro.insert(0, "host", pdf["host"].iloc[0])
        return mro

    return rows.groupBy("component").applyInPandas(linearize, MRO_SCHEMA)


def inherited_members(units: DataFrame) -> DataFrame:
    """P27: for each class, members visible through its MRO — nearest
    definition wins (declared members are mro_pos 0, so they override).
    Emits (host, cls, member_name, defined_in, mro_pos, inherited)."""
    mro = class_mro(units)
    u = with_host(units)
    members = u.where(
        F.col("kind").isin("function", "property", "enumeration")
        & F.col("parent_path").isNotNull()
    ).select(
        "host",
        F.col("parent_path").alias("owner"),
        F.col("name").alias("member_name"),
        F.col("kind").alias("member_kind"),
    )
    joined = mro.join(
        members,
        (mro.host == members.host) & (mro.ancestor == members.owner),
    ).select(mro.host, "cls", "member_name", "member_kind", "mro_pos", "ancestor")
    w = Window.partitionBy("host", "cls", "member_name").orderBy("mro_pos")
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "host",
            "cls",
            "member_name",
            "member_kind",
            F.col("ancestor").alias("defined_in"),
            (F.col("mro_pos") > 0).alias("inherited"),
        )
    )


# ---------------------------------------------------------------------------
# scope-chain name resolution (P24)
# ---------------------------------------------------------------------------

ROOT_SCOPE = "<root>"


def _scope_levels(scope_path):
    """Ordered scope chain for a dotted unit path: the unit itself, each
    enclosing namespace (longest first), then the host root folder —
    mirroring Object.resolve's own-members → parent recursion
    (reference objects.py:497-522)."""
    parts = F.split(scope_path, r"\.")
    prefixes = F.when(
        F.size(parts) > 1,
        F.transform(
            F.reverse(F.sequence(F.lit(1), F.size(parts) - 1)),
            lambda i: F.concat(F.lit("+"), F.array_join(F.slice(parts, F.lit(1), i), ".")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(F.array(scope_path), prefixes, F.array(F.lit(ROOT_SCOPE)))


def resolve_in_scope(
    units: DataFrame, requests: DataFrame, builtins: DataFrame
) -> DataFrame:
    """P24: resolve ``name`` within the scope of ``scope_path``.

    ``requests`` rows: (host, scope_path, name). Resolution order: own
    members of the scope unit → enclosing namespaces (innermost first) →
    host root folder → MATLAB builtins → unresolved. Implemented as one
    equi-join of the members table against the posexploded scope chain of
    the (broadcast) request set, then a min-level pick — no iteration, no
    driver loop; the members side shuffles once on (host, owner, name).

    Error vs not-found (reference objects.py:497-522): ``Object.resolve``
    only recurses while the parent is a namespace/folder — when the scope
    unit hangs off a CLASS or FUNCTION parent (a method, a class-folder
    member), a miss on its own members raises ``NameResolutionError``
    without ever consulting outer scopes or builtins. We mirror that as
    ``resolution='error'``: the chain is cut after level 0 whenever the
    scope unit's parent_path is a non-namespace unit (no ``+`` prefix),
    and a level-0 miss then resolves to 'error', never 'builtin' or
    'unresolved'. The cut flag comes from a broadcast semi-join of the
    units table against the (tiny) distinct scope set, so the big side
    still shuffles only once.
    """
    u = with_host(units)
    # chain-cut dim: does scope_path name a unit whose parent is a
    # non-namespace container (class / function)?
    scope_cut = (
        u.join(
            F.broadcast(
                requests.select(
                    "host", F.col("scope_path").alias("unit_path")
                ).distinct()
            ),
            ["host", "unit_path"],
        )
        .groupBy("host", F.col("unit_path").alias("scope_path"))
        .agg(
            F.max(
                (
                    F.col("parent_path").isNotNull()
                    & ~F.col("parent_path").startswith("+")
                ).cast("int")
            ).alias("__cut")
        )
        .select("host", "scope_path", (F.col("__cut") == 1).alias("__cut"))
    )
    members = (
        u.where(~F.col("kind").isin("error", "readme") & F.col("name").isNotNull())
        .groupBy(
            "host",
            F.coalesce(F.col("parent_path"), F.lit(ROOT_SCOPE)).alias("owner"),
            F.col("name").alias("member_name"),
        )
        .agg(F.min("unit_path").alias("target_path"))
    )
    req_cut = requests.join(scope_cut, ["host", "scope_path"], "left").withColumn(
        "__cut", F.coalesce(F.col("__cut"), F.lit(False))
    )
    req = req_cut.select(
        "host",
        "scope_path",
        "name",
        "__cut",
        F.posexplode(_scope_levels(F.col("scope_path"))).alias("lvl", "owner"),
    ).where(~F.col("__cut") | (F.col("lvl") == 0))  # cut chain after own members
    hits = F.broadcast(req).join(
        members,
        (req.host == members.host)
        & (req.owner == members.owner)
        & (req.name == members.member_name),
    ).select(req.host, "scope_path", "name", "lvl", "target_path")
    w = Window.partitionBy("host", "scope_path", "name").orderBy("lvl")
    best = (
        hits.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("host", "scope_path", "name", "lvl", "target_path")
    )
    out = (
        req_cut.join(best, ["host", "scope_path", "name"], "left")
        .join(
            F.broadcast(builtins),
            F.col("name") == builtins.builtin_name,
            "left",
        )
        .select(
            "host",
            "scope_path",
            "name",
            F.when(F.col("target_path").isNotNull(), F.col("target_path"))
            .when(~F.col("__cut"), F.col("doc_url"))  # no builtin fallback on error
            .alias("resolved_path"),
            F.when(F.col("target_path").isNotNull(), F.col("lvl"))
            .otherwise(F.lit(None).cast("int"))
            .alias("resolved_level"),
            F.when(F.col("target_path").isNotNull(), F.lit("scope"))
            .when(F.col("__cut"), F.lit("error"))
            .when(F.col("doc_url").isNotNull(), F.lit("builtin"))
            .otherwise(F.lit("unresolved"))
            .alias("resolution"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# builtins doc-link broadcast join (P32)
# ---------------------------------------------------------------------------

def builtins_df(spark) -> DataFrame:
    """The engine-owned builtins dimension (see operators/builtins.py for
    the generated list + generalized expression linking)."""
    from maxx_spark.operators.builtins import builtins_dim

    return builtins_dim(spark)


def link_builtin_bases(units: DataFrame, builtins: DataFrame) -> DataFrame:
    """Classes whose base is a MATLAB builtin → doc link (broadcast join)."""
    cls = with_host(units).where(F.col("kind") == "class").select(
        "host", F.col("unit_path").alias("cls"), F.explode("bases").alias("base_name")
    )
    return cls.join(
        F.broadcast(builtins), cls.base_name == builtins.builtin_name, "left"
    ).select("host", "cls", "base_name", "doc_url")
