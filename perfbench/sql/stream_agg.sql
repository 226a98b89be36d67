-- The reference fixture (test.sql): datagen source with a 5 s watermark,
-- a streaming GROUP BY with COUNT DISTINCT, print sink. Bench changes:
-- the rate and mini-batch latency come from the benchmark; an `id`
-- sequence column bounds the generator so the final output can be
-- checked against an exact row count; the trailing `SELECT *` is left
-- out, because at bench rates it measures console output.
SET pipeline.name = test-sql;
SET parallelism.default = 2;
SET table.exec.mini-batch.enabled = true;
SET table.exec.mini-batch.allow-latency = ${trigger};
SET table.exec.mini-batch.size = 5000;
SET execution.runtime-mode = streaming;
SET execution.checkpointing.enabled = true;
SET execution.checkpointing.interval = 3s;
SET table.dynamic-table-options.enabled = true;

create table if not exists tbl_aggregate_source(
  id bigint,
  dim string,
  user_id bigint,
  price double,
  row_time as cast(current_timestamp as timestamp(3)),
  watermark for row_time as row_time - interval '5' second
) with (
  'connector' = 'datagen',
  'rows-per-second' = '${rate}',
  'fields.id.kind' = 'sequence',
  'fields.id.start' = '0',
  'fields.id.end' = '${last_id}',
  'fields.dim.length' = '1',
  'fields.user_id.min' = '1',
  'fields.user_id.max' = '100000',
  'fields.price.min' = '50',
  'fields.price.max' = '1000'
);

create table if not exists tbl_aggregate_sink(
  dim string,
  pv bigint,
  uv bigint,
  sum_price double,
  max_price double,
  min_price double,
  window_start bigint
) with (
  'connector' = 'print',
  'print-identifier' = 'tbl_aggregate_sink'
);

insert into tbl_aggregate_sink
select dim, count(*) as pv, count(distinct user_id) as uv,
  sum(price) as sum_price, max(price) as max_price, min(price) as min_price,
  cast(unix_timestamp(cast(row_time as string)) / 60 as bigint) as window_start
from tbl_aggregate_source
group by dim, cast(unix_timestamp(cast(row_time as string)) / 60 as bigint);

unset pipeline.name;
