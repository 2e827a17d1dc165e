"""DuckDB twin of operators/pq_replay + similarity.ann_pq: the
snapped product-quantization ANN replayed end-to-end as recursive CTEs.

1:1 with the Python pipeline at the registry's parameters (m_subs=16,
n_codes=64, sub=4, rerank=32, k=5, queries vec_id < 5):

- unit6: 1e-6 snapped unit vectors with the order-free norm
  (ss6 = Σ snap6(x²), norm = sqrt(ss6/1e6));
- training: per-subspace L2 k-means, PQ_ITERS fixed iterations, ONE
  recursive CTE carrying all 16 codebooks as a flat list indexed
  [j·kk·4 + c·4 + d]; init = the strided rows of the vec_id-ordered
  sample (the same rows for every subspace); assignment = argmin of
  exact int64 squared distances (first-min ties == list_position of the
  list min); update = snap6((Σx6)/1e6/cnt), empty cells keep the old
  centroid via the list_position/COALESCE sparse-fill pattern (the
  _kmeans_sql recipe at PQ precision);
- encoding/ADC: codes per (vector, subspace), ADC score = exact int64
  Σ_j <q6 slice, codebook[code]>;
- shortlist: global ADC top-32 per query by (adc desc, n_id asc) — the
  Python side's per-task pre-cut uses the same total order, which is
  lossless for the global top-32;
- rerank: exact int64 dot Σ q6·n6 (≤6.4e13), top-5 by (cos12 desc,
  n_id asc).

Every value both engines compare is an integer until the final
ROUND(cos12/1e12, 6).
"""

from lakeside_spark.operators.pq_replay import PQ_ITERS

D = 64
M = 16      # m_subs
SUB = 4     # D // M

# unit6 for every corpus row (1e-6 twin of _kmeans_sql._UNIT_CTE)
_UNIT6_CTE = f"""
allv AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
au AS MATERIALIZED (
  SELECT vec_id,
    list_transform(range({D}), d ->
      CAST(round((x[d + 1] / nrm) * 1e6) AS BIGINT)) AS u6
  FROM (
    SELECT vec_id, x,
      CASE WHEN nrm0 = 0.0 THEN 1.0 ELSE nrm0 END AS nrm
    FROM (
      SELECT vec_id, x,
        SQRT(CAST(list_sum(list_transform(range({D}), d ->
          CAST(round(x[d + 1] * x[d + 1] * 1e6) AS BIGINT))) AS DOUBLE)
          / 1e6) AS nrm0
      FROM allv
    )
  )
)"""

# exact int64 squared distance of one u6 subspace slice (subspace j)
# against code c of the flat codebook list {cents}
_D2 = (
    f"list_sum(list_transform(range({SUB}), d -> "
    f"(u6[j * {SUB} + d + 1] "
    f"- {{cents}}[j * kk * {SUB} + c * {SUB} + d + 1]) "
    f"* (u6[j * {SUB} + d + 1] "
    f"- {{cents}}[j * kk * {SUB} + c * {SUB} + d + 1])))"
)


def pq_cte(n_codes: int, train_sample: int) -> str:
    """WITH RECURSIVE prelude exposing ``au`` (snapped 1e-6 unit
    vectors), ``sn`` (effective code count kk), ``sdim`` (sample slice
    values as relational rows) and ``pqf`` (final flat codebooks,
    [M·kk·SUB] int64).

    The iteration is RELATIONAL, not lambda-shaped: the codebook list is
    exploded once per iteration into (cd → j,c,d, cval) rows and the
    squared distances come from a hash join against ``sdim`` plus one
    group-by — carrying the 4096-element list onto the n×M×kk fan-out
    (the lambda formulation) measured 66s at 500 vectors; this shape is
    ~20× faster. The old codebook needed for empty-cell fallback rides a
    CARRIER: only the (j=0, d=0) explode rows keep the list, narrowed to
    sid=0 after the join — every (sid=0, j=0, c) distance group holds
    it, so the rk=1 winner always carries it, and any_value (NULL-
    skipping) lifts it to the top of each aggregation level."""
    return f"""
WITH RECURSIVE
{_UNIT6_CTE},
samp AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS sid, u6
  FROM (SELECT vec_id, u6 FROM au ORDER BY vec_id LIMIT {train_sample})
),
sn AS MATERIALIZED (
  SELECT COUNT(*) AS n,
         LEAST({n_codes}, COUNT(*)) AS kk,
         GREATEST(COUNT(*) // LEAST({n_codes}, COUNT(*)), 1) AS stride
  FROM samp
),
sdim AS MATERIALIZED (
  SELECT s.sid, jj.j AS j, dd.d AS d,
         s.u6[jj.j * {SUB} + dd.d + 1] AS xval
  FROM samp s, range({M}) jj(j), range({SUB}) dd(d)
),
c0 AS (
  SELECT flatten(list(sl ORDER BY j, c)) AS cents
  FROM (
    SELECT jj.j AS j, s.sid // sn.stride AS c,
           list_transform(range({SUB}), d ->
             s.u6[jj.j * {SUB} + d + 1]) AS sl
    FROM samp s, sn, range({M}) jj(j)
    WHERE s.sid % sn.stride = 0 AND s.sid // sn.stride < sn.kk
  )
),
pq AS (
  SELECT 0 AS it, (SELECT cents FROM c0) AS cents
  UNION ALL
  SELECT it + 1,
    list_transform(range((SELECT kk * {M} * {SUB} FROM sn)), cd ->
      COALESCE(els[list_position(cds, cd)], oldc[cd + 1]))
  FROM (
    SELECT it, any_value(carrier) AS oldc,
           list(cd ORDER BY cd) AS cds,
           list(el ORDER BY cd) AS els
    FROM (
      -- one row per (subspace, non-empty code, dim): the snapped
      -- updated element at its flat index
      SELECT it, j * kk * {SUB} + c * {SUB} + d AS cd,
        CAST(round((CAST(SUM(xval) AS DOUBLE) / 1e6 / COUNT(*)) * 1e6)
             AS BIGINT) AS el,
        any_value(carrier) AS carrier
      FROM (
        -- members of the winning code, re-fanned to dims
        SELECT w.it, w.j, w.kk, w.c, sd.d, sd.xval, w.carrier
        FROM (
          SELECT it, sid, j, kk, c, carrier,
                 ROW_NUMBER() OVER (PARTITION BY it, sid, j
                                    ORDER BY d2, c) AS rk
          FROM (
            -- exact int64 squared distance per (sample row, sub, code)
            SELECT b.it, sd0.sid, b.j, b.kk, b.c,
                   SUM((sd0.xval - b.cval) * (sd0.xval - b.cval)) AS d2,
                   any_value(CASE WHEN sd0.sid = 0 THEN b.carrier0 END)
                     AS carrier
            FROM (
              -- codebook exploded once per iteration
              SELECT it0.it, t.cd, sn.kk,
                     t.cd // (sn.kk * {SUB}) AS j,
                     (t.cd % (sn.kk * {SUB})) // {SUB} AS c,
                     t.cd % {SUB} AS d,
                     it0.cents[t.cd + 1] AS cval,
                     CASE WHEN t.cd % {SUB} = 0
                               AND t.cd < sn.kk * {SUB}
                          THEN it0.cents END AS carrier0
              FROM (SELECT it, cents FROM pq WHERE it < {PQ_ITERS}) it0,
                   sn, range({n_codes} * {M} * {SUB}) t(cd)
              WHERE t.cd < sn.kk * {M} * {SUB}
            ) b
            JOIN sdim sd0 ON sd0.j = b.j AND sd0.d = b.d
            GROUP BY b.it, sd0.sid, b.j, b.kk, b.c
          ) d2rows
        ) w
        JOIN sdim sd ON sd.sid = w.sid AND sd.j = w.j
        WHERE w.rk = 1
      ) members
      GROUP BY it, j, kk, c, d
    ) upd
    GROUP BY it
  ) agg
),
pqf AS MATERIALIZED (SELECT cents FROM pq WHERE it = {PQ_ITERS})"""


# the registry's ann_pq key end-to-end
ANN_PQ_SQL = pq_cte(64, 10_000) + f"""
, encj AS MATERIALIZED (
  -- code per (corpus vector, subspace)
  SELECT n_id, j,
         list_position(dists, list_aggregate(dists, 'min')) - 1 AS code
  FROM (
    SELECT a.vec_id AS n_id, jj.j AS j, sn.kk AS kk, a.u6,
      list_transform(range(sn.kk), c ->
        {_D2.format(cents="f.cents")}) AS dists
    FROM au a, pqf f, sn, range({M}) jj(j)
  ) drows
),
qv AS MATERIALIZED (
  SELECT vec_id AS q_id, u6 AS q6 FROM au WHERE vec_id < 5
),
adc AS MATERIALIZED (
  -- exact int64 ADC: Σ_j <q6 slice j, codebook_j[code]>
  SELECT q.q_id, e.n_id,
    SUM(list_sum(list_transform(range({SUB}), d ->
      q.q6[e.j * {SUB} + d + 1]
      * f.cents[e.j * sn.kk * {SUB} + e.code * {SUB} + d + 1]))) AS adc6
  FROM encj e, qv q, pqf f, sn
  WHERE q.q_id <> e.n_id
  GROUP BY 1, 2
),
short AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY adc6 DESC, n_id) AS arnk
    FROM adc
  ) WHERE arnk <= 32
),
resc AS (
  SELECT s.q_id, s.n_id,
    list_sum(list_transform(range({D}), d ->
      q.q6[d + 1] * a.u6[d + 1])) AS cos12
  FROM short s
  JOIN qv q USING (q_id)
  JOIN au a ON a.vec_id = s.n_id
),
rk AS (
  SELECT q_id, n_id, cos12,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos12 DESC, n_id) AS rank
  FROM resc
)
SELECT q_id, n_id,
       (ROUND(CAST(cos12 AS DOUBLE) / 1e12, 6) + 0.0::DOUBLE) AS cos_pq,
       CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 5
"""
