"""Element-wise matrix/vector ops: Apply / Prune / EWiseMult / EWiseApply /
DimApply / SetDifference (SURVEY.md §2.3).

These map the reference's functor-driven in-place loops onto declarative
Column expressions — Catalyst fuses chains of them into a single
whole-stage-codegen'd project/filter, something the eager reference
cannot do (SURVEY.md §4 "no fusion").
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------- Apply/Prune

def apply_values(df: DataFrame, fn: Callable[[Column], Column], val_col: str = "val") -> DataFrame:
    """Map over nonzero values in place (SpParMat::Apply, SpParMat.h:147-151)."""
    return df.withColumn(val_col, fn(F.col(val_col)))


def apply_ind(edges: DataFrame, fn: Callable[[Column, Column, Column], Column]) -> DataFrame:
    """Apply seeing global (i, j, val) (PruneI-style index-aware functor,
    SpParMat.h:162-189)."""
    return edges.withColumn("val", fn(F.col("src"), F.col("dst"), F.col("val")))


def prune(df: DataFrame, pred: Column) -> DataFrame:
    """Drop entries where pred is true (SpParMat::Prune, SpParMat.h:162-189)."""
    return df.filter(~pred)


def prune_rows_cols(edges: DataFrame, ri: DataFrame | None, ci: DataFrame | None,
                    full: bool = False) -> DataFrame:
    """Prune(ri,ci): drop entries with src in ri AND dst in ci; PruneFull
    drops src in ri OR dst in ci (SpParMat.cpp:2484, 2533).

    ri/ci are single-column (id) DataFrames.
    """
    if full:
        out = edges
        if ri is not None:
            out = out.join(ri.select(F.col(ri.columns[0]).alias("src")), "src", "left_anti")
        if ci is not None:
            out = out.join(ci.select(F.col(ci.columns[0]).alias("dst")), "dst", "left_anti")
        return out
    # AND semantics: remove the intersection block
    hit = edges
    if ri is not None:
        hit = hit.join(ri.select(F.col(ri.columns[0]).alias("src")), "src", "left_semi")
    if ci is not None:
        hit = hit.join(ci.select(F.col(ci.columns[0]).alias("dst")), "dst", "left_semi")
    return edges.join(hit.select("src", "dst"), ["src", "dst"], "left_anti")


def prune_column(edges: DataFrame, pvals: DataFrame,
                 keep: Callable[[Column, Column], Column]) -> DataFrame:
    """Per-column threshold prune against a vector (SpParMat::PruneColumn,
    SpParMat.cpp:2578): keep edge iff keep(edge.val, pvals[dst])."""
    p = pvals.select(F.col("id").alias("dst"), F.col("val").alias("_pval"))
    return (
        edges.join(p, "dst", "inner")
        .filter(keep(F.col("val"), F.col("_pval")))
        .drop("_pval")
    )


# ------------------------------------------------------------------ EWise ops

def ewise_mult(A: DataFrame, B: DataFrame,
               mult: Callable[[Column, Column], Column] = lambda a, b: a * b,
               exclude: bool = False,
               keys: tuple[str, ...] = ("src", "dst")) -> DataFrame:
    """A .* B (exclude=False) or A .* NOT(B) — masking
    (EWiseMult, ParFriends.h:2630-2647; Friends.h:844-1035).

    exclude=True keeps A entries whose coordinate is ABSENT from B
    (value left unchanged) — the BFS visited-mask pattern
    (TopDownBFS.cpp:446).
    """
    keys = list(keys)
    if exclude:
        return A.join(B.select(*keys), keys, "left_anti")
    bsel = B.select(*keys, F.col("val").alias("_bval"))
    return (
        A.join(bsel, keys, "inner")
        .withColumn("val", mult(F.col("val"), F.col("_bval")))
        .drop("_bval")
    )


def set_difference(A: DataFrame, B: DataFrame,
                   keys: tuple[str, ...] = ("src", "dst")) -> DataFrame:
    """A entries not present in B (SetDifference, ParFriends.h:2613-2627)."""
    return A.join(B.select(*keys), list(keys), "left_anti")


def ewise_apply(
    A: DataFrame,
    B: DataFrame,
    binop: Callable[[Column, Column], Column],
    allow_a_nulls: bool = False,
    allow_b_nulls: bool = False,
    a_null: float | int | None = 0.0,
    b_null: float | int | None = 0.0,
    keep: Callable[[Column, Column], Column] | None = None,
    keys: tuple[str, ...] = ("id",),
) -> DataFrame:
    """General zip of two sparse collections on shared coordinates.

    Mirrors the flexible EWiseApply (ParFriends.h:2650-2692 matrices,
    2935-3230 vectors): intersection (both allow_*=False) through full
    union (both True) with null-fill values, plus an optional keep
    predicate evaluated on the filled values.

    A and B must both have the key columns and a ``val`` column.
    """
    keys = list(keys)
    if allow_a_nulls and allow_b_nulls:
        how = "full_outer"
    elif allow_a_nulls:
        how = "right_outer"   # B rows always present; missing A filled
    elif allow_b_nulls:
        how = "left_outer"
    else:
        how = "inner"
    a = A.select(*keys, F.col("val").alias("_a"))
    b = B.select(*keys, F.col("val").alias("_b"))
    j = a.join(b, keys, how)
    av = F.coalesce(F.col("_a"), F.lit(a_null))
    bv = F.coalesce(F.col("_b"), F.lit(b_null))
    out = j.select(*keys, binop(av, bv).alias("val"),
                   F.col("_a").alias("_ka"), F.col("_b").alias("_kb"))
    if keep is not None:
        out = out.filter(keep(F.coalesce(F.col("_ka"), F.lit(a_null)),
                              F.coalesce(F.col("_kb"), F.lit(b_null))))
    return out.drop("_ka", "_kb")


def dim_apply(edges: DataFrame, v: DataFrame, dim: str,
              binop: Callable[[Column, Column], Column]) -> DataFrame:
    """Scale every row (dim='row' ~ src) or column (dim='col' ~ dst) by a
    vector element — e.g. column-stochastic normalization
    (SpParMat::DimApply, SpParMat.cpp:801-886; used MCL.cpp:389-394).
    """
    key = "src" if dim == "row" else "dst"
    vv = v.select(F.col("id").alias(key), F.col("val").alias("_v"))
    return (
        edges.join(vv, key, "inner")
        .withColumn("val", binop(F.col("val"), F.col("_v")))
        .drop("_v")
    )
