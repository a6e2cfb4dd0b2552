select id_new, fld_1, fld_2 from bench_tbl where id_new <= DBC_PL_max_id order by id_new
