"""Alias canonicalization — alias chains collapse onto one canonical surface.

The reference resolves aliases only implicitly (each normalizer maps surface
→ canonical in one hop; OICI recurses once, ``OICI_database.py:34-39``). At
KG scale alias chains (A→B→C) must collapse to one canonical surface: the
connected components of the alias graph, each mapped to one representative.

Alias edge sets are dictionary-sized, so :func:`canonical_alias_map`
collects up to ``DRIVER_COLLECT_CAP`` edges (the same bound as
``normalize_mentions``' driver path) in one bounded action and runs
union-find in-process; :func:`apply_alias_map` collects the map and only
the dim rows of its representatives, picks the rep rows on the driver and
joins them into the mention stream as one broadcast table. Small frames
stay in-process rather than paying a Spark job per contraction round.

Above the bound the map comes from the distributed, diameter-independent
:func:`connected_components_star` (alternating large-star / small-star,
O(log² n) rounds, ``localCheckpoint`` per round so plan size stays O(1)).
Plain min-id label propagation (:func:`connected_components`) converges in
O(diameter) rounds and raises above its cap; no pipeline path uses it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .normalize import DRIVER_COLLECT_CAP, _dim_row_sort_key


def connected_components(
    edges: DataFrame, max_iterations: int = 32, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """edges(src, dst) → (node, component) with component = min node id, by
    iterative min-id label propagation (one shuffle per round).

    Deterministic: component ids are the lexicographic min over each
    component (stable across partitionings and cluster sizes).
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    sym = sym.localCheckpoint(eager=True)
    labels = labels.localCheckpoint(eager=True)

    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("component").alias("nmin"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
                (F.coalesce(F.col("nmin"), F.col("component")) < F.col("component"))
                .cast("int")
                .alias("_changed"),
            )
        )
        updated = updated.localCheckpoint(eager=True)
        changed = updated.agg(F.sum("_changed")).collect()[0][0] or 0
        labels = updated.drop("_changed")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — the graph has a component with diameter above the "
            "cap (label propagation moves one hop per round). Use "
            "connected_components_star (O(log^2) rounds) for such graphs."
        )
    return labels


def connected_components_star(
    edges: DataFrame, max_iterations: int = 50, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """edges(src, dst) → (node, component): the alternating large-star /
    small-star algorithm (Kiveris et al., "Connected Components in MapReduce
    and Beyond") — converges in O(log² n) rounds regardless of diameter, so
    a 10^6-long alias chain costs ~tens of shuffles, not 10^6. This is the
    100 TB-safe variant; :func:`connected_components` (plain propagation)
    stays for low-diameter graphs where each round is cheaper.

    large-star: every node links its LARGER neighbors to its smallest
    neighbor-or-self; small-star: every node links its smaller-or-equal
    neighbors to the same. Fixpoint = edge set stable = a forest of stars
    (child → component-min root). Deterministic min-id components.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    all_nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _checksum(df):
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def _large_star(ed):
        sym = ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
        mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        m = F.least(F.col("_mn"), F.col("u"))
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(ed):
        oriented = (
            ed.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("_mn"))
        joined = oriented.join(mins, "u")
        links = joined.select(F.col("v").alias("u"), F.col("_mn").alias("v"))
        selfs = joined.select("u", F.col("_mn").alias("v"))
        return (
            links.union(selfs).filter(F.col("u") != F.col("v")).distinct()
        )

    prev = None
    for _ in range(max_iterations):
        e = _large_star(e).localCheckpoint(eager=True)
        e = _small_star(e).localCheckpoint(eager=True)
        cs = _checksum(e)
        if cs == prev:
            break
        prev = cs
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} rounds"
        )
    # stars: (child, root). Roots and isolated nodes map to themselves.
    return all_nodes.join(
        e.select(F.col("u").alias("node"), F.col("v").alias("_root")), "node", "left"
    ).select("node", F.coalesce("_root", "node").alias("component"))


def _local_table(spark, rows: list, schema: T.StructType) -> DataFrame:
    """A driver-built table. Going through pandas and Arrow, a small one
    plans as a ``LocalRelation``: reading it launches no Spark job and no
    Python worker (a list goes through a pickled RDD and pays both)."""
    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.names), schema)


def _dim_rows(dim: DataFrame, surfaces, cols: list[str]) -> list:
    """The ``cols`` of every ``dim`` row whose surface is in ``surfaces``: a
    broadcast semi-join against the driver-side key set, then one collect."""
    if not surfaces:
        return []
    keys = _local_table(
        dim.sparkSession,
        [(s,) for s in surfaces],
        T.StructType([T.StructField("surface", dim.schema["surface"].dataType)]),
    )
    return dim.join(F.broadcast(keys), "surface", "left_semi").select(*cols).collect()


def _components(edges) -> list[list]:
    """Connected components of an edge list (union-find with path halving)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[rv] = ru
    groups: dict = {}
    for x in parent:
        groups.setdefault(find(x), []).append(x)
    return list(groups.values())


def _star_alias_map(edges: DataFrame, dim: DataFrame) -> DataFrame:
    """:func:`canonical_alias_map` through distributed connected components,
    for edge sets above the driver bound."""
    comp = connected_components_star(edges)
    dim_surfaces = dim.select(F.col("surface").alias("node")).distinct()
    rep = (
        comp.join(dim_surfaces.withColumn("_in_dim", F.lit(1)), "node", "left")
        .groupBy("component")
        .agg(
            F.min(F.when(F.col("_in_dim") == 1, F.col("node"))).alias("dim_rep"),
            F.min("node").alias("any_rep"),
        )
        .select(
            "component", F.coalesce("dim_rep", "any_rep").alias("canonical_surface")
        )
    )
    return comp.join(rep, "component").select(
        F.col("node").alias("surface"), "canonical_surface"
    )


def canonical_alias_map(alias_edges: DataFrame, dim: DataFrame) -> DataFrame:
    """Collapse alias chains onto dimension canonicals.

    alias_edges(src, dst): surface alias pairs. Returns
    (surface, canonical_surface): every member of a component maps to the
    component's representative — the smallest member present in ``dim``
    (so chains terminate at a real canonical entity), else the smallest
    member. Edges with a null endpoint and self-loops are dropped, so a
    surface appears only if it has an edge to another surface.

    Up to ``DRIVER_COLLECT_CAP`` edges are collected in one bounded action
    and resolved by union-find on the driver; the result is a local table.
    Above the bound the map comes from :func:`connected_components_star`
    (diameter-independent: alias graph shapes are adversary-controlled web
    data). Both paths give the same map: Python's code-point order on
    surfaces is Spark's binary UTF-8 string order.
    """
    edges = alias_edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    rows = edges.limit(DRIVER_COLLECT_CAP + 1).collect()
    if len(rows) > DRIVER_COLLECT_CAP:
        return _star_alias_map(edges, dim)
    groups = _components(set(map(tuple, rows)))
    in_dim = {
        r.surface for r in _dim_rows(dim, [m for g in groups for m in g], ["surface"])
    }
    pairs = []
    for members in groups:
        rep = min([m for m in members if m in in_dim] or members)
        pairs.extend((m, rep) for m in members)
    t = edges.schema["src"].dataType
    return _local_table(
        edges.sparkSession,
        pairs,
        T.StructType(
            [T.StructField("surface", t), T.StructField("canonical_surface", t)]
        ),
    )


def apply_alias_map(
    mentions: DataFrame,
    alias_map: DataFrame,
    col: str = "canonical",
    dim: DataFrame | None = None,
    id_cols: tuple[str, ...] = ("entity_id", "code"),
    kind_col: str = "type",
) -> DataFrame:
    """Rewrite a canonical column through the (small, broadcast) alias map.

    With ``dim``, every mention whose canonical participates in the alias
    map ALSO gets its id columns remapped to the representative's dim row
    (chains terminate at a real canonical entity per
    :func:`canonical_alias_map`). The rep row is matched on
    ``(surface, kind)`` using the mention's ``kind_col`` when both sides
    carry kinds — a surface shared by two kinds must not hand the other
    kind's ids back — falling back to a kind-agnostic row when that kind
    has no dim entry for the surface. Either way the row is picked
    value-deterministically (min (canonical, entity_id, code) cast to
    string, nulls last, matching ``normalize._dedup_dimn``), never by row
    order. Without the remap, a mention normalized to entity B then
    alias-collapsed onto A's surface kept B's entity_id, so the nodes table
    split one collapsed entity across two ids. A representative absent
    from dim maps its component's ids to null — consistently, so the
    component still collapses to one node key.

    The alias map is collected (it is broadcast-sized), only the dim rows
    of its representatives are collected, and the rep rows are picked on
    the driver; the map and the picked ids join the mention stream as one
    broadcast table, so the returned plan holds no shuffle or window.
    """
    amap = alias_map.collect()
    fields, rows = list(alias_map.schema.fields), [list(r) for r in amap]
    remap = [c for c in id_cols if dim is not None and c in mentions.columns]
    use_kind = bool(remap) and "kind" in dim.columns and kind_col in mentions.columns
    if remap:
        # each map row carries its representative's kind-agnostic ids
        # (``_fb_ids``) and, per kind, that kind's ids (``_kind_ids``)
        order = [c for c in ("canonical", "entity_id", "code") if c in dim.columns]
        cols = ["surface", *(["kind"] if use_kind else []), *remap, *order]
        reps = {r["canonical_surface"] for r in amap} - {None}
        dim_rows = [r.asDict() for r in _dim_rows(dim, reps, list(dict.fromkeys(cols)))]
        fb, by_kind = {}, {}
        for r in sorted(dim_rows, key=_dim_row_sort_key):
            ids = tuple(r[c] for c in remap)
            fb.setdefault(r["surface"], ids)
            if use_kind and r["kind"] is not None:
                by_kind.setdefault(r["surface"], {}).setdefault(r["kind"], ids)
        ids_t = T.StructType([T.StructField(c, dim.schema[c].dataType) for c in remap])
        kind_t = dim.schema["kind"].dataType if use_kind else T.StringType()
        fields += [
            T.StructField("_fb_ids", ids_t),
            T.StructField("_kind_ids", T.MapType(kind_t, ids_t)),
        ]
        for row, r in zip(rows, amap):
            row += [fb.get(r["canonical_surface"]), by_kind.get(r["canonical_surface"])]
    table = _local_table(mentions.sparkSession, rows, T.StructType(fields))
    out = mentions.join(F.broadcast(table.withColumnRenamed("surface", col)), col, "left")
    for c in remap:
        value = F.col("_fb_ids")[c]
        if use_kind:
            # a kind-matched rep row is used WHOLE (even its null columns) —
            # coalescing per column would splice another kind's code onto
            # this kind's entity_id
            hit = F.col("_kind_ids")[F.col(kind_col)]
            value = F.when(hit.isNotNull(), hit[c]).otherwise(value)
        out = out.withColumn(
            c, F.when(F.col("canonical_surface").isNotNull(), value).otherwise(F.col(c))
        )
    return (
        out.withColumn(col, F.coalesce("canonical_surface", F.col(col)))
        .drop("canonical_surface", "_fb_ids", "_kind_ids")
    )


def fuse_records(
    assign: DataFrame,
    records: DataFrame,
    group_col: str = "cluster_id",
    id_col: str = "doc_id",
    majority_cols: tuple = ("source", "lang"),
    max_cols: tuple = ("n_chars",),
) -> DataFrame:
    """Survivorship-rule RECORD FUSION — the MDM merge step after dedup
    clustering: given a cluster assignment (``id_col``, ``group_col``) and
    the record attributes, emit ONE fused row per cluster::

        group_col, canonical_id (min id), n_merged,
        fused_<c>  per majority col  (most frequent value, ties → smallest
                                      — an integer/lex argmin, engine-exact),
        max_<c>    per max col       (longest/largest-value rule)

    Scale shape: the assignment⋈records join shuffles once on ``id_col``
    and the joined frame is ``localCheckpoint``-materialized (rule 23 —
    it fans into 1 + len(majority_cols) aggregations); each majority rule
    is a two-level map-side-combined aggregate + struct-min argmin (never
    a window sort over the full membership); stitches are per-cluster
    joins.  Deterministic: every pick is a struct-min over values, no
    first()/row-order dependence (the r4 ADVICE class).

    Ref: the reference keeps the first surface form it sees
    (``OICI_database.py:34-39``, order-dependent); value-deterministic
    fusion is this repo's KG-scale extension (SURVEY §2.12)."""
    base = (
        assign.select(
            F.col(id_col).alias("__id"), F.col(group_col).alias("__g")
        )
        .join(records.withColumnRenamed(id_col, "__id"), "__id")
        .localCheckpoint(eager=True)
    )
    aggs = [
        F.min("__id").cast("long").alias("canonical_id"),
        F.count(F.lit(1)).cast("long").alias("n_merged"),
    ] + [F.max(c).cast("long").alias(f"max_{c}") for c in max_cols]
    out = base.groupBy(F.col("__g").alias(group_col)).agg(*aggs)
    for c in majority_cols:
        counts = base.groupBy("__g", c).agg(F.count(F.lit(1)).alias("__c"))
        pick = (
            counts.groupBy("__g")
            .agg(
                F.min(
                    F.struct((-F.col("__c")).alias("nc"), F.col(c).alias("v"))
                )["v"].alias(f"fused_{c}")
            )
            .withColumnRenamed("__g", group_col)
        )
        out = out.join(pick, group_col)
    return out
