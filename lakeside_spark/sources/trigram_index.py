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
- **pruned read** (:func:`read_segments_indexed`): probes the sidecar
  with an IN-list of fingerprints (pushed to the parquet dictionary /
  row-group stats), evaluates the AND/OR tree driver-side exactly like
  computeSegmentIds, and hands Spark the surviving file list — excluded
  segments are never listed, footer-read, or scanned. At 100 TB this is
  the difference between "scan everything and filter" and "read the ~30
  segments that can possibly match a needle regex": the index is
  O(distinct trigrams × segments), ~1e4 smaller than the data, and the
  probe collects only rows for the query's own fingerprints.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakeside_spark import schema as S
from lakeside_spark.ast.model import BinaryClause, Filter, NotClause, QueryClause

try:  # python 3.11+: re._parser; older: sre_parse
    from re import _parser as sre_parse  # type: ignore[attr-defined]
except ImportError:  # pragma: no cover
    import sre_parse  # type: ignore[no-redef]

EXISTS_VALUE = ".*"  # reference EXISTS_REGEX (Commons.scala:61)
INDEX_DIR = "_trigram_index"
SCHEMA_FILE = "_schema.json"

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
    if f.op == S.CONTAINS and f.k in indexed_dims:
        return _and_trigrams(f.k, f.v[0])
    if f.op == S.REGEX and f.k in indexed_dims:
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
    from lakeside_spark.sources.footers import lake_footers

    schema = lake_footers(spark, path).schema
    lake = spark.read.schema(schema).parquet(path)
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
    # Persist the lake's merged schema beside the index: the pruned read
    # can then hand Spark an explicit schema without re-reading EVERY
    # segment footer at plan-build time (~2ms per file through Spark's
    # schema merge — fatal at a million segments). The index build is the
    # natural place: it already read the lake's footers, and a segment
    # added without reindexing is stale for pruning anyway, so schema
    # staleness has the same remedy (rebuild).
    # atomic (tmp+rename): a reader racing a rebuild must see either the
    # old complete schema or the new one, never a truncated file
    schema_path = os.path.join(path, INDEX_DIR, SCHEMA_FILE)
    tmp_path = schema_path + ".tmp"
    with open(tmp_path, "w") as fh:
        fh.write(schema.json())
    os.replace(tmp_path, schema_path)


# ---------------------------------------------------------------------------
# prune + read


def prune_segments(
    spark: SparkSession,
    path: str,
    clause: QueryClause,
    indexed_dims: tuple[str, ...],
    full_value_dims: tuple[str, ...] = (),
    collect_all: bool = True,
) -> tuple[list[str] | None, int]:
    """(surviving absolute file paths, total indexed files). Mirrors
    computeSegmentIds (NLPUtils.scala:156-188): leaf = intersection over
    the leaf's fingerprint segment-sets, AND = intersect children,
    OR = union children, match-all = every file.

    The boolean tree is evaluated DISTRIBUTED: one hash aggregation over
    the index computes a has-fingerprint flag per (file, probe) and the
    AND/OR tree becomes a boolean Column over those flags, so only the
    surviving file names ever reach the driver (sized for millions of
    segments; the old path collected a file-set per fingerprint).

    Two cheap jobs, no cache churn: the probe aggregation scans ONLY the
    index rows whose fp matches a probed fingerprint (an OR-of-equals
    predicate pushed to the parquet dictionary/row-group stats — files
    with no probe hit simply have no per-file row, which for the monotone
    AND/OR algebra means not-kept), and the indexed-file total is a
    separate file-column-only count. Because the tree algebra is MONOTONE
    (AND/OR over presence flags; ALL ≡ True, empty OR ≡ False), a tree
    that evaluates True with every flag false is constant True — that
    match-all case short-circuits driver-side: with ``collect_all=False``
    it returns (None, total) without probing anything, so the full name
    list (as big as the lake listing itself at a million segments) never
    reaches the driver."""
    index = spark.read.parquet(os.path.join(path, INDEX_DIR))
    tq = clause_to_trigram_query(clause, indexed_dims, full_value_dims)
    probe_strs = sorted(_leaf_fps(tq))
    base = os.path.abspath(path).rstrip("/")
    files_only = index.select("file").distinct()
    if not probe_strs or _const_true(tq):
        # constant-True tree (match-all, or every leaf unconstrained):
        # nothing can be pruned, no probe needed
        if collect_all:
            keep = sorted(r[0] for r in files_only.collect())
            return [os.path.join(base, f) for f in keep], len(keep)
        return None, files_only.count()
    # hash probe literals with the SAME jvm xxhash64 used at build time
    # (constant-folded by Catalyst); the OR-of-equals fp filter prunes
    # the scan to probe hits before the ONE map-side-combined aggregation
    probe_hash = {s: F.xxhash64(F.lit(s)) for s in probe_strs}
    hit = None
    for s in probe_strs:
        eq = F.col("fp") == probe_hash[s]
        hit = eq if hit is None else (hit | eq)
    flags = [
        F.max(F.when(F.col("fp") == probe_hash[s], True)).alias(f"_fp{i}")
        for i, s in enumerate(probe_strs)
    ]
    per_file = index.filter(hit).groupBy("file").agg(*flags)
    fp_col = {
        s: F.coalesce(F.col(f"_fp{i}"), F.lit(False))
        for i, s in enumerate(probe_strs)
    }
    keep_col = _eval_expr(tq, fp_col)
    keep = [r[0] for r in per_file.filter(keep_col).select("file").collect()]
    total = files_only.count()
    if not keep:
        return [], total
    if len(keep) == total and not collect_all:
        return None, total
    return [os.path.join(base, f) for f in sorted(keep)], total


def _const_true(q: TrigramQuery) -> bool:
    """True iff the tree evaluates True with EVERY presence flag false.
    The algebra is monotone (AND/OR over flags, ALL ≡ True), so that is
    exactly the constant-True (match-all) case."""
    if q.op == ALL:
        return True
    terms = [_const_true(s) for s in q.sub] + [False for _ in q.fps]
    if q.op == AND:
        return all(terms) if terms else True
    return any(terms) if terms else False


def _eval_expr(q: TrigramQuery, fp_col: dict[str, Column]) -> Column:
    """Fold the trigram query tree into one boolean Column over per-file
    fingerprint flags. Empty AND = match-all, empty OR = match-none —
    same semantics as the reference's set algebra."""
    if q.op == ALL:
        return F.lit(True)
    terms = [_eval_expr(s, fp_col) for s in q.sub] + [fp_col[fp] for fp in q.fps]
    if q.op == AND:
        if not terms:
            return F.lit(True)
        out = terms[0]
        for t in terms[1:]:
            out = out & t
        return out
    if not terms:
        return F.lit(False)
    out = terms[0]
    for t in terms[1:]:
        out = out | t
    return out


def read_segments_indexed(
    spark: SparkSession,
    path: str,
    clause: QueryClause,
    indexed_dims: tuple[str, ...],
    full_value_dims: tuple[str, ...] = (),
) -> DataFrame:
    """Index-pruned read: only segments that can possibly match are handed
    to the scan; the exact row filter still applies on top (the index is a
    may-contain structure, like the reference's — QueryEngineV2 re-filters
    rows inside each fetched segment)."""
    from lakeside_spark.ast.filters import filter_to_column

    files, _total = prune_segments(
        spark, path, clause, indexed_dims, full_value_dims, collect_all=False
    )

    # explicit schema (persisted at index-build time) skips the per-file
    # footer reads at plan time; absent (pre-existing lake, index built by
    # an older version) read the lake's footers like read_segments does
    def reader():
        schema_path = os.path.join(path, INDEX_DIR, SCHEMA_FILE)
        try:
            with open(schema_path) as fh:
                schema = T.StructType.fromJson(json.load(fh))
        except (OSError, ValueError, KeyError):
            # missing, corrupt, or wrong-shape sidecar — degrade to the
            # footer-merged schema rather than failing the query
            from lakeside_spark.sources.footers import lake_footers

            schema = lake_footers(spark, path).schema
        return spark.read.schema(schema)

    if files is None:
        # nothing pruned: one directory listing, no driver-side file
        # list. On a STALE index (segments sealed after the last
        # build) this path also reads the unindexed segments — sound,
        # since the exact row filter reapplies below; the pruned path
        # can only see indexed files, so index freshness is the
        # caller's contract (rebuild after sealing), same as the
        # reference's segment index.
        df = reader().parquet(path)
    elif not files:
        return reader().parquet(path).filter(F.lit(False))
    else:
        df = reader().option("basePath", path).parquet(*files)
    return df.filter(filter_to_column(clause, set(df.columns)))
