-- DBC_PL_chunks equal-width id ranges [a, b] over 1..max(id); every
-- DBC_PL_maint_every-th chunk carries a maintenance command in field 0.
WITH bounds AS (
  SELECT CAST(CEIL(MAX(id) / DBC_PL_chunks) AS BIGINT) AS w FROM bench_tbl
)
SELECT
  CASE WHEN k % DBC_PL_maint_every = DBC_PL_maint_every - 1
       THEN 'vacuum analyze bench_tbl' END AS maint,
  k * w + 1 AS a,
  (k + 1) * w AS b
FROM (SELECT explode(sequence(0, DBC_PL_chunks - 1)) AS k) CROSS JOIN bounds
ORDER BY a
