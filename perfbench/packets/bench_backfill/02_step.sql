-- Validation: every row backfilled with its own id.
SELECT count(*) AS n_rows,
       count_if(id_new = CAST(id AS BIGINT)) AS n_backfilled
FROM bench_tbl
