-- Load the seeded source table and add the widened column the backfill
-- fills (DBC_PL_src is the parquet file written by the benchmark).
DROP TABLE IF EXISTS bench_tbl;
CREATE TABLE bench_tbl USING parquet AS
  SELECT id, fld_1, fld_2, CAST(NULL AS BIGINT) AS id_new
  FROM parquet.`DBC_PL_src`
