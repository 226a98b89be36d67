-- One datagen source feeding two INSERTs into filesystem sinks: a
-- CUMULATE window-TVF aggregation and an event-time OVER RANGE sum.
-- Both run on the harness's state trackers (CumulateTracker,
-- OverAggTracker). The `id` sequence bounds the generator and lets the
-- outputs be checked for completeness.
SET pipeline.name = window-bench;
SET parallelism.default = 2;
SET table.exec.mini-batch.allow-latency = ${trigger};
SET execution.runtime-mode = streaming;

create table src (
  id bigint,
  dim string,
  price double,
  row_time as cast(current_timestamp as timestamp(3)),
  watermark for row_time as row_time - interval '2' second
) with (
  'connector' = 'datagen',
  'rows-per-second' = '${rate}',
  'fields.id.kind' = 'sequence',
  'fields.id.start' = '0',
  'fields.id.end' = '${last_id}',
  'fields.dim.length' = '1',
  'fields.price.min' = '50',
  'fields.price.max' = '1000'
);

create table cumulate_sink (
  window_start timestamp(3),
  window_end timestamp(3),
  cnt bigint,
  sum_price double,
  min_id bigint,
  max_id bigint
) with (
  'connector' = 'filesystem',
  'path' = '${out}/cumulate',
  'format' = 'parquet'
);

create table over_sink (
  id bigint,
  dim string,
  row_time timestamp(3),
  price double,
  sum_10s double,
  cnt_10s bigint
) with (
  'connector' = 'filesystem',
  'path' = '${out}/over',
  'format' = 'parquet'
);

insert into cumulate_sink
select window_start, window_end, count(*) as cnt, sum(price) as sum_price,
  min(id) as min_id, max(id) as max_id
from table(cumulate(table src, descriptor(row_time),
  interval '2' second, interval '10' second))
group by window_start, window_end;

insert into over_sink
select id, dim, row_time, price,
  sum(price) over (partition by dim order by row_time
    range between interval '10' second preceding and current row) as sum_10s,
  count(*) over (partition by dim order by row_time
    range between interval '10' second preceding and current row) as cnt_10s
from src;
