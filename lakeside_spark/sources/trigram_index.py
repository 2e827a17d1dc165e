"""Trigram fingerprint segment index — data skipping for string predicates.

The reference prunes segments *before* any parquet read with a trigram
index: every sealed segment row in its catalog carries a ``fingerprints
BIGINT[]`` column (hashes of ``field:trigram``), filters compile to a
trigram AND/OR tree (core NLPUtils.scala:90-131, the regex→trigram idea
from Russ Cox's codesearch), and ``computeSegmentIds``
(NLPUtils.scala:156-188) intersects/unions per-fingerprint segment sets.
The catalog probe is ``fingerprints && ?::BIGINT[]``
(query-api QueryEngineV2.scala:740-899).

Spark-native equivalent implemented here:

- **index build** (:func:`build_trigram_index`): one distributed pass over
  the lake computes, per segment *file*, the distinct fingerprint set —
  an "exists" fingerprint per non-null column (``field:.*``, the
  reference's EXISTS_REGEX, Commons.scala:61), full-value fingerprints for
  low-cardinality identifier dims (reference INDEX_FULL_VALUE_DIMENSIONS,
  Commons.scala:114), and lowercased value trigrams for content dims
  (reference DIMENSIONS_TO_INDEX, Commons.scala:111). Fingerprints are
  ``xxhash64`` longs computed JVM-side; the sidecar lands at
  ``{lake}/_trigram_index`` (the ``_`` prefix keeps lake reads from
  picking it up).
- **query compile** (:func:`clause_to_trigram_query`): mirrors
  NLPUtils.toTrigramQuery over our filter AST — eq/in probe value
  fingerprints, contains probes the literal's trigrams, regex extracts
  *required* literal trigrams from the pattern via the stdlib regex
  parser (falling back to exists when the pattern guarantees nothing),
  has/exists probe the exists fingerprint, NOT and range ops degrade
  soundly to match-all/exists. Pruning is always *sound*: a segment
  containing any matching row is never skipped.
- **pruned read** (:func:`read_segments_indexed`): one aggregation over
  the sidecar evaluates the AND/OR tree per indexed file exactly like
  computeSegmentIds, and Spark reads every live file that the index
  either kept or does not know — excluded segments are never
  footer-read or scanned. At 100 TB this is the difference between
  "scan everything and filter" and "read the ~30 segments that can
  possibly match a needle regex": the index is O(distinct trigrams ×
  segments), ~1e4 smaller than the data.
"""

from __future__ import annotations

import operator
import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeside_spark import schema as S
from lakeside_spark.ast.model import BinaryClause, Filter, NotClause, QueryClause
from lakeside_spark.sources.footers import lake_footers

try:  # python 3.11+: re._parser; older: sre_parse
    from re import _parser as sre_parse  # type: ignore[attr-defined]
except ImportError:  # pragma: no cover
    import sre_parse  # type: ignore[no-redef]

EXISTS_VALUE = ".*"  # reference EXISTS_REGEX (Commons.scala:61)
INDEX_DIR = "_trigram_index"
#: the sidecar's columns: a data file's path relative to the lake root and
#: one xxhash64 fingerprint it contains (given explicitly, so opening the
#: index infers nothing)
INDEX_SCHEMA = "file string, fp long"

# operator tags mirroring TrigramQuery.Op (NLPUtils.scala:35):
# reference 0=match-all, 2=and, 3=or
ALL, AND, OR = "all", "and", "or"


@dataclass(frozen=True)
class TrigramQuery:
    """AND/OR tree over fingerprint strings (reference TrigramQuery)."""

    op: str  # ALL | AND | OR
    fps: frozenset[str] = frozenset()  # leaf fingerprint strings "field:gram"
    sub: tuple["TrigramQuery", ...] = field(default=())


_MATCH_ALL = TrigramQuery(ALL)


def _fp(fld: str, gram: str) -> str:
    # reference computeFingerprint = hash(s"$fieldName:$trigram")
    # (Commons.scala:134); we keep the string form in the tree and let
    # xxhash64 map it to the stored long at probe time.
    return f"{fld}:{gram}"


def _trigrams(value: str) -> set[str]:
    v = value.lower()  # contains/regex match case-insensitively
    return {v[i : i + 3] for i in range(len(v) - 2)}


def _and_trigrams(fld: str, literal: str) -> TrigramQuery:
    grams = _trigrams(literal)
    if not grams:
        return TrigramQuery(AND, frozenset({_fp(fld, EXISTS_VALUE)}))
    return TrigramQuery(AND, frozenset(_fp(fld, g) for g in grams))


def _exists(fld: str) -> TrigramQuery:
    return TrigramQuery(AND, frozenset({_fp(fld, EXISTS_VALUE)}))


# ---------------------------------------------------------------------------
# regex → required literal extraction (sound: literals the pattern MUST
# contain; anything uncertain degrades to match-all for that fragment)


def required_literals(pattern: str) -> list[str] | None:
    """Literal runs every match of ``pattern`` must contain, or None when
    the pattern guarantees nothing (e.g. ``.*``, pure classes). Branches
    are handled by :func:`_regex_query`; this walks one alternative."""
    try:
        parsed = sre_parse.parse(pattern)
    except Exception:
        return None
    runs = _walk_required(list(parsed))
    return [r for r in runs if len(r) >= 3] or None


def _walk_required(ops) -> list[str]:
    runs: list[str] = []
    cur: list[str] = []

    def flush() -> None:
        if cur:
            runs.append("".join(cur))
            cur.clear()

    for op, arg in ops:
        name = str(op)
        if name == "LITERAL":
            cur.append(chr(arg))
        elif name == "AT":  # anchors don't break literal adjacency
            continue
        elif name == "SUBPATTERN":
            flush()
            runs.extend(_walk_required(list(arg[3])))
        elif name == "MAX_REPEAT" or name == "MIN_REPEAT":
            flush()
            lo = arg[0]
            if lo >= 1:  # occurs at least once → its literals are required
                runs.extend(_walk_required(list(arg[2])))
        else:
            # IN/ANY/BRANCH/GROUPREF/...: no single literal guaranteed here
            flush()
    flush()
    return runs


def _regex_query(fld: str, pattern: str) -> TrigramQuery:
    """Compile one regex to a trigram query. Top-level alternation becomes
    OR (NLPUtils handles this inside the native trigram compiler); every
    branch must yield trigrams or the whole pattern is just 'exists'."""
    try:
        parsed = list(sre_parse.parse(pattern))
    except Exception:
        return _exists(fld)
    # unwrap grouping: "(a|b)" parses as SUBPATTERN[BRANCH[...]]
    while len(parsed) == 1 and str(parsed[0][0]) == "SUBPATTERN":
        parsed = list(parsed[0][1][3])
    if len(parsed) == 1 and str(parsed[0][0]) == "BRANCH":
        subs = []
        for branch in parsed[0][1][1]:
            runs = [r for r in _walk_required(list(branch)) if len(r) >= 3]
            if not runs:
                return _exists(fld)  # one unconstrained branch → no pruning
            subs.append(
                TrigramQuery(
                    AND,
                    frozenset(_fp(fld, g) for r in runs for g in _trigrams(r)),
                )
            )
        return TrigramQuery(OR, sub=tuple(subs))
    runs = required_literals(pattern)
    if not runs:
        return _exists(fld)
    return TrigramQuery(
        AND, frozenset(_fp(fld, g) for r in runs for g in _trigrams(r))
    )


# ---------------------------------------------------------------------------
# filter AST → trigram query (reference NLPUtils.toTrigramQuery:90-131)


def clause_to_trigram_query(
    clause: QueryClause,
    indexed_dims: tuple[str, ...],
    full_value_dims: tuple[str, ...] = (),
) -> TrigramQuery:
    if isinstance(clause, BinaryClause):
        q1 = clause_to_trigram_query(clause.q1, indexed_dims, full_value_dims)
        q2 = clause_to_trigram_query(clause.q2, indexed_dims, full_value_dims)
        if clause.op == "and":
            return TrigramQuery(AND, sub=(q1, q2))
        return TrigramQuery(OR, sub=(q1, q2))
    if isinstance(clause, NotClause):
        # reference: NotQuery → None (no pruning possible; NLPUtils.scala:118)
        return _MATCH_ALL

    f: Filter = clause
    if f.extracted or f.computed:
        return _MATCH_ALL  # value doesn't exist in stored columns
    if f.op in (S.HAS, S.EXISTS):
        return _exists(f.k)
    if f.op == S.EQ:
        return _value_query(f.k, f.v[0], indexed_dims, full_value_dims)
    if f.op == S.IN:
        return TrigramQuery(
            OR,
            sub=tuple(
                _value_query(f.k, v, indexed_dims, full_value_dims) for v in f.v
            ),
        )
    if f.op in (S.CONTAINS, S.REGEX) and f.k in indexed_dims:
        # contains compiles to the regex ``.*v.*`` (ast/filters.py), so its
        # value is a pattern too: "a.c" requires no literal "a.c"
        return _regex_query(f.k, f.v[0])
    # !=, not_in, ranges, contains/regex on unindexed dims: the row filter
    # still needs the column to exist (missing column → FALSE, filters.py)
    return _exists(f.k)


def _value_query(
    fld: str, value: str, indexed: tuple[str, ...], full_value: tuple[str, ...]
) -> TrigramQuery:
    if fld in full_value:
        return TrigramQuery(AND, frozenset({_fp(fld, value)}))
    if fld in indexed:
        return _and_trigrams(fld, value)
    return _exists(fld)


def _leaf_fps(q: TrigramQuery) -> set[str]:
    out = set(q.fps)
    for s in q.sub:
        out |= _leaf_fps(s)
    return out


# ---------------------------------------------------------------------------
# index build


def build_trigram_index(
    spark: SparkSession,
    path: str,
    indexed_dims: tuple[str, ...] = (),
    full_value_dims: tuple[str, ...] = (),
) -> None:
    """One distributed pass: per segment file, the distinct fingerprint
    set (exists + full-value + trigram), stored as xxhash64 longs in the
    ``_trigram_index`` sidecar. Incremental production ingest would append
    one small index file per sealed segment instead of rebuilding."""
    lake = spark.read.schema(lake_footers(spark, path).schema).parquet(path)
    # input_file_name() yields a file: URI; store the path relative to the
    # lake root so the lake (and its sidecar) can move together
    base = os.path.abspath(path).rstrip("/")
    file_col = F.expr(
        f"substring(input_file_name(), instr(input_file_name(), '{base}') + {len(base) + 1})"
    ).alias("file")
    cols = list(lake.columns)
    parts = []
    # exists fingerprints (field:.* — reference EXISTS_REGEX): ONE pass
    # computing per-file non-null presence for every column, then melted
    presence = lake.groupBy(file_col).agg(
        *[F.max(F.col(c).isNotNull()).alias(c) for c in cols]
    )
    stack = ", ".join(f"'{c}', `{c}`" for c in cols)
    parts.append(
        presence.selectExpr(
            "file", f"stack({len(cols)}, {stack}) as (col, present)"
        )
        .filter("present")
        .select("file", F.concat("col", F.lit(":" + EXISTS_VALUE)).alias("fp_str"))
    )
    for c in full_value_dims:
        parts.append(
            lake.filter(F.col(c).isNotNull())
            .select(file_col, F.col(c).cast("string").alias("v"))
            .distinct()
            .select("file", F.concat(F.lit(f"{c}:"), F.col("v")).alias("fp_str"))
        )
    for c in indexed_dims:
        grams = F.expr(
            "transform(sequence(1, length(val) - 2), i -> substring(val, i, 3))"
        )
        parts.append(
            lake.filter(F.col(c).isNotNull())
            .select(file_col, F.lower(F.col(c).cast("string")).alias("val"))
            .filter(F.length("val") >= 3)
            .distinct()  # trigram explode over DISTINCT values, not rows
            .select("file", F.explode(grams).alias("g"))
            .select(
                "file", F.concat(F.lit(f"{c}:"), F.col("g")).alias("fp_str")
            )
        )
    index = parts[0]
    for p in parts[1:]:
        index = index.unionByName(p)
    # xxhash64 longs for compact dictionary-friendly probes (the reference
    # stores BIGINT[] fingerprints the same way)
    (
        index.distinct()
        .select("file", F.xxhash64("fp_str").alias("fp"))
        .repartition(1)
        .write.mode("overwrite")
        .parquet(os.path.join(path, INDEX_DIR))
    )


# ---------------------------------------------------------------------------
# prune + read


def prune_segments(
    spark: SparkSession,
    path: str,
    clause: QueryClause,
    indexed_dims: tuple[str, ...],
    full_value_dims: tuple[str, ...] = (),
) -> tuple[set[str], set[str]] | None:
    """(kept, indexed): the absolute paths of the files the index keeps for
    ``clause`` and of every file it indexes, from ONE aggregation over the
    index; None, with no Spark work at all, when the trigram tree is
    constant True (match-all), where nothing can be pruned. A lake with no
    index indexes nothing. Mirrors computeSegmentIds (NLPUtils.scala:
    156-188): leaf = intersection over the leaf's fingerprint segment-sets,
    AND = intersect children, OR = union children.

    The boolean tree is evaluated DISTRIBUTED: the aggregation computes a
    has-fingerprint flag per (file, probe) and the AND/OR tree is a boolean
    Column over those flags, so the driver receives one (file, kept) row
    per indexed file, never the fingerprints."""
    tq = clause_to_trigram_query(clause, indexed_dims, full_value_dims)
    probe_strs = sorted(_leaf_fps(tq))
    keep = _fold(tq, {s: F.col(f"_fp{i}") for i, s in enumerate(probe_strs)})
    if keep is True:
        return None
    index_dir = os.path.join(path, INDEX_DIR)
    if not os.path.isdir(index_dir):
        return set(), set()
    # hash probe literals with the SAME jvm xxhash64 used at build time
    # (constant-folded by Catalyst)
    per_file = (
        spark.read.schema(INDEX_SCHEMA)
        .parquet(index_dir)
        .groupBy("file")
        .agg(*[
            F.max(F.col("fp") == F.xxhash64(F.lit(s))).alias(f"_fp{i}")
            for i, s in enumerate(probe_strs)
        ])
    )
    base = os.path.abspath(path)
    rows = per_file.select("file", F.lit(False) if keep is False else keep).collect()
    return (
        {os.path.join(base, f) for f, k in rows if k},
        {os.path.join(base, f) for f, _ in rows},
    )


def _fold(q: TrigramQuery, leaf: dict[str, Column]) -> bool | Column:
    """Fold the trigram query tree into one boolean Column over per-file
    fingerprint flags (``leaf``), or into True / False when the tree is
    constant. ALL and an empty AND are match-all, an empty OR is
    match-none — the reference's set algebra. The algebra is monotone,
    so a tree is constant True exactly when it holds with every flag
    false."""
    if q.op == ALL:
        return True
    terms = [_fold(s, leaf) for s in q.sub] + [leaf[fp] for fp in q.fps]
    absorbing, neutral = (False, True) if q.op == AND else (True, False)
    if any(t is absorbing for t in terms):
        return absorbing
    cols = [t for t in terms if t is not neutral]
    if not cols:
        return neutral
    return reduce(operator.and_ if q.op == AND else operator.or_, cols)


def read_segments_indexed(
    spark: SparkSession,
    path: str,
    clause: QueryClause,
    indexed_dims: tuple[str, ...],
    full_value_dims: tuple[str, ...] = (),
) -> DataFrame:
    """Index-pruned read: Spark reads each live data file that the index
    kept or does not index, and the exact row filter applies on top (the
    index is a may-contain structure, like the reference's — QueryEngineV2
    re-filters rows inside each fetched segment).

    The schema and the live files come from the lake's footers, as for
    ``read_segments``, so both readers see the same columns. Reading the
    files the index does not know keeps a stale or missing index sound:
    a file sealed after the last build, an hour ingest replaced (its new
    file; the index's old name is no longer live) and a lake whose index
    compaction dropped are all read in full."""
    from lakeside_spark.ast.filters import filter_to_column

    meta = lake_footers(spark, path)
    reader = spark.read.schema(meta.schema)
    pruned = None
    if meta.file_rows is not None:  # a lake that is not local is read whole
        pruned = prune_segments(spark, path, clause, indexed_dims, full_value_dims)
    if pruned is None:
        df = reader.parquet(path)
    else:
        kept, indexed = pruned
        live = [os.path.abspath(f) for f in meta.file_rows]
        files = [f for f in live if f in kept or f not in indexed]
        if len(files) == len(live):
            df = reader.parquet(path)
        elif not files:
            df = reader.parquet(path).filter(F.lit(False))
        else:
            df = reader.option("basePath", path).parquet(*files)
    return df.filter(filter_to_column(clause, set(df.columns)))
