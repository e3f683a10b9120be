-- Window-lowering record for WindowLoweringSpec: each statement
-- (`-- @name`) with the text the clause chain, Dialect.lowerClauses,
-- lowered it to (`-- @lowered`) before the window passes shared one
-- call finder; `!error` marks a refusal. The statements are the window
-- statements of WindowExcludeSpec, GroupsFramesSpec and DialectSpec and
-- the Spark-side SQL of the w06, w07 and w12-w23 SparkEntry queries.
-- @name wx_run_current
SELECT p, o, v,
            SUM(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS s,
            COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS c,
            COUNT(*) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS cs
          FROM wx ORDER BY p, o, v NULLS LAST
-- @lowered
SELECT p, o, v,
            (CASE WHEN (COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (CASE WHEN (v) IS NULL THEN 0 ELSE 1 END)) = 0 THEN NULL ELSE SUM(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COALESCE((v), 0) END) AS s,
            (COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (CASE WHEN (v) IS NULL THEN 0 ELSE 1 END)) AS c,
            (COUNT(*) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) AS cs
          FROM wx ORDER BY p NULLS LAST, o NULLS LAST, v NULLS LAST
-- @name wx_run_group
SELECT p, o, v,
            SUM(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS s,
            COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS c,
            COUNT(*) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS cs
          FROM wx ORDER BY p, o, v NULLS LAST
-- @lowered
SELECT p, o, v,
            (CASE WHEN (COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) = 0 THEN NULL ELSE SUM(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COALESCE(SUM(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW), 0) END) AS s,
            (COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) AS c,
            (COUNT(*) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COUNT(*) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) AS cs
          FROM wx ORDER BY p NULLS LAST, o NULLS LAST, v NULLS LAST
-- @name wx_run_ties
SELECT p, o, v,
            SUM(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS s,
            COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS c,
            COUNT(*) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS cs
          FROM wx ORDER BY p, o, v NULLS LAST
-- @lowered
SELECT p, o, v,
            (CASE WHEN (COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - (CASE WHEN (v) IS NULL THEN 0 ELSE 1 END))) = 0 THEN NULL ELSE SUM(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (COALESCE(SUM(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW), 0) - COALESCE((v), 0)) END) AS s,
            (COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - (CASE WHEN (v) IS NULL THEN 0 ELSE 1 END))) AS c,
            (COUNT(*) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (COUNT(*) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1)) AS cs
          FROM wx ORDER BY p NULLS LAST, o NULLS LAST, v NULLS LAST
-- @name wx_rows_avg_no_others
SELECT p, o, v,
           SUM(v) OVER (PARTITION BY p ORDER BY o, v NULLS LAST
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
             EXCLUDE CURRENT ROW) AS s,
           round(AVG(v) OVER (PARTITION BY p ORDER BY o
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             EXCLUDE CURRENT ROW), 6) AS a,
           SUM(v) OVER (PARTITION BY p ORDER BY o
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             EXCLUDE NO OTHERS) AS sn
         FROM wx ORDER BY p, o, v NULLS LAST
-- @lowered
SELECT p, o, v,
           (CASE WHEN (COUNT(v) OVER (PARTITION BY p ORDER BY o, v NULLS LAST
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) - (CASE WHEN (v) IS NULL THEN 0 ELSE 1 END)) = 0 THEN NULL ELSE SUM(v) OVER (PARTITION BY p ORDER BY o, v NULLS LAST
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) - COALESCE((v), 0) END) AS s,
           round((CASE WHEN (COUNT(v) OVER (PARTITION BY p ORDER BY o
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (CASE WHEN (v) IS NULL THEN 0 ELSE 1 END)) = 0 THEN NULL ELSE CAST(SUM(v) OVER (PARTITION BY p ORDER BY o
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COALESCE((v), 0) AS DOUBLE) / (COUNT(v) OVER (PARTITION BY p ORDER BY o
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (CASE WHEN (v) IS NULL THEN 0 ELSE 1 END)) END), 6) AS a,
           SUM(v) OVER (PARTITION BY p ORDER BY o
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sn
         FROM wx ORDER BY p NULLS LAST, o NULLS LAST, v NULLS LAST
-- @name wx_bad_min_default_frame
SELECT MIN(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) FROM wx
-- @lowered
!error
-- @name wx_bad_min_range_offset
SELECT MIN(v) OVER (PARTITION BY p ORDER BY o
         RANGE BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE GROUP)
         FROM wx
-- @lowered
!error
-- @name wx_bad_min_groups_current
SELECT MIN(v) OVER (PARTITION BY p ORDER BY o
         GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW)
         FROM wx
-- @lowered
!error
-- @name wx_bad_median
SELECT MEDIAN(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) FROM wx
-- @lowered
!error
-- @name wx_bad_count_distinct_default
SELECT COUNT(DISTINCT v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) FROM wx
-- @lowered
!error
-- @name wx_bad_sum_distinct_default
SELECT SUM(DISTINCT v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) FROM wx
-- @lowered
!error
-- @name wx_bad_rows_group
SELECT SUM(v) OVER (PARTITION BY p ORDER BY o
         ROWS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE GROUP) FROM wx
-- @lowered
!error
-- @name wx_bad_min_rows_ties
SELECT MIN(v) OVER (PARTITION BY p ORDER BY o
         ROWS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE TIES) FROM wx
-- @lowered
!error
-- @name wx_bad_following_start
SELECT SUM(v) OVER (PARTITION BY p ORDER BY o
         ROWS BETWEEN 2 FOLLOWING AND 3 FOLLOWING EXCLUDE CURRENT ROW)
         FROM wx
-- @lowered
!error
-- @name wx_minmax_group_ties
SELECT p, o, v,
            MIN(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS mg,
            MAX(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS mt,
            MIN(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN
              UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
              EXCLUDE GROUP) AS mb,
            MAX(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN
              CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS mf
          FROM wx ORDER BY p, o, v NULLS LAST
-- @lowered
SELECT  p, o, v,
            (min(v) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN unbounded preceding AND 1 PRECEDING)) AS mg,
            GREATEST(max(v) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN unbounded preceding AND 1 PRECEDING), (v)) AS mt,
            LEAST(min(v) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN unbounded preceding AND 1 PRECEDING), min(v) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN 1 FOLLOWING AND unbounded following)) AS mb,
            GREATEST(max(v) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN 1 FOLLOWING AND unbounded following), (v)) AS mf
           FROM (SELECT *, dense_rank() OVER (PARTITION BY p ORDER BY o NULLS LAST) AS `__grp_0` FROM wx ) wx ORDER BY p NULLS LAST, o NULLS LAST, v NULLS LAST
-- @name wx_groups_sum_exclude
SELECT p, o, v,
           SUM(v) OVER (PARTITION BY p ORDER BY o GROUPS BETWEEN
             1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS sg,
           SUM(v) OVER (PARTITION BY p ORDER BY o GROUPS BETWEEN
             1 PRECEDING AND CURRENT ROW EXCLUDE TIES) AS st
         FROM wx ORDER BY p, o, v NULLS LAST
-- @lowered
SELECT  p, o, v,
           (CASE WHEN (COUNT(v) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN
             1 PRECEDING AND 1 FOLLOWING) - COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) = 0 THEN NULL ELSE SUM(v) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN
             1 PRECEDING AND 1 FOLLOWING) - COALESCE(SUM(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW), 0) END) AS sg,
           (CASE WHEN (COUNT(v) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN
             1 PRECEDING AND CURRENT ROW) - (COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - (CASE WHEN (v) IS NULL THEN 0 ELSE 1 END))) = 0 THEN NULL ELSE SUM(v) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN
             1 PRECEDING AND CURRENT ROW) - (COALESCE(SUM(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW), 0) - COALESCE((v), 0)) END) AS st
          FROM (SELECT *, dense_rank() OVER (PARTITION BY p ORDER BY o NULLS LAST) AS `__grp_0` FROM wx ) wx ORDER BY p NULLS LAST, o NULLS LAST, v NULLS LAST
-- @name wx_named_exclude
SELECT p, o, v,
            SUM(v) OVER w AS s_excl,
            SUM(v) OVER w2 AS s_plain
          FROM wx
          WINDOW w AS (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW), w2 AS (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          ORDER BY p, o, v NULLS LAST
-- @lowered
SELECT p, o, v,
            (CASE WHEN (COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (CASE WHEN (v) IS NULL THEN 0 ELSE 1 END)) = 0 THEN NULL ELSE SUM(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COALESCE((v), 0) END) AS s_excl,
            SUM(v) OVER w2 AS s_plain
          FROM wx
          WINDOW w2 AS (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY p NULLS LAST, o NULLS LAST, v NULLS LAST
-- @name wx_named_exclude_multi
SELECT SUM(v) OVER w AS a, COUNT(v) OVER w AS c
          FROM wx WINDOW w AS (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP)
          ORDER BY a NULLS FIRST
-- @lowered
SELECT (CASE WHEN (COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) = 0 THEN NULL ELSE SUM(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COALESCE(SUM(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW), 0) END) AS a, (COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COUNT(v) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) AS c
          FROM wx ORDER BY a NULLS FIRST
-- @name wx_minmax_current
SELECT p, k,
           MIN(v) OVER (PARTITION BY p ORDER BY k
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
             EXCLUDE CURRENT ROW) AS mn,
           MAX(v) OVER (PARTITION BY p ORDER BY k
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             EXCLUDE CURRENT ROW) AS mx,
           MIN(v) OVER (PARTITION BY p ORDER BY k
             ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING
             EXCLUDE CURRENT ROW) AS mf,
           MAX(v) OVER (PARTITION BY p ORDER BY k
             ROWS BETWEEN CURRENT ROW AND CURRENT ROW
             EXCLUDE CURRENT ROW) AS m0
         FROM wmx ORDER BY p, k
-- @lowered
SELECT p, k,
           LEAST(min(v) OVER (PARTITION BY p ORDER BY k ROWS BETWEEN 1 preceding AND 1 PRECEDING), min(v) OVER (PARTITION BY p ORDER BY k ROWS BETWEEN 1 FOLLOWING AND 1 following)) AS mn,
           GREATEST(max(v) OVER (PARTITION BY p ORDER BY k ROWS BETWEEN unbounded preceding AND 1 PRECEDING), max(v) OVER (PARTITION BY p ORDER BY k ROWS BETWEEN 1 FOLLOWING AND unbounded following)) AS mx,
           (min(v) OVER (PARTITION BY p ORDER BY k ROWS BETWEEN 1 FOLLOWING AND 2 following)) AS mf,
           (CASE WHEN 1 = 0 THEN (v) END) AS m0
         FROM wmx ORDER BY p NULLS LAST, k NULLS LAST
-- @name wx_filter_exclude
SELECT p, o, v,
            SUM(v) FILTER (WHERE v > 10) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS fs,
            COUNT(*) FILTER (WHERE o % 2 = 1) OVER (PARTITION BY p
              ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
              FOLLOWING EXCLUDE TIES) AS fc,
            MIN(v) FILTER (WHERE v < 35) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS fm
          FROM wx ORDER BY p, o, v NULLS LAST
-- @lowered
SELECT  p, o, v,
            (CASE WHEN (COUNT(CASE WHEN (v > 10) THEN (v) END) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COUNT(CASE WHEN (v > 10) THEN (v) END) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) = 0 THEN NULL ELSE SUM(CASE WHEN (v > 10) THEN (v) END) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COALESCE(SUM(CASE WHEN (v > 10) THEN (v) END) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW), 0) END) AS fs,
            (COUNT(CASE WHEN (o % 2 = 1) THEN 1 END) OVER (PARTITION BY p
              ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
              FOLLOWING) - (COUNT(CASE WHEN (o % 2 = 1) THEN 1 END) OVER (PARTITION BY p
              ORDER BY o RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - (CASE WHEN (CASE WHEN (o % 2 = 1) THEN 1 END) IS NULL THEN 0 ELSE 1 END))) AS fc,
            (min(CASE WHEN (v < 35) THEN (v) END) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN unbounded preceding AND 1 PRECEDING)) AS fm
           FROM (SELECT *, dense_rank() OVER (PARTITION BY p ORDER BY o NULLS LAST) AS `__grp_0` FROM wx ) wx ORDER BY p NULLS LAST, o NULLS LAST, v NULLS LAST
-- @name wx_sum_distinct_filter_exclude
SELECT p, o, v,
            SUM(DISTINCT v) FILTER (WHERE v > 0) OVER
              (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS sd
          FROM wx ORDER BY p, o, v NULLS LAST
-- @lowered
SELECT  p, o, v,
            array_sum_exact(array_distinct(collect_set(CASE WHEN (v > 0) THEN (v) END) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN unbounded preceding AND 1 PRECEDING))) AS sd
           FROM (SELECT *, dense_rank() OVER (PARTITION BY p ORDER BY o NULLS LAST) AS `__grp_0` FROM wx ) wx ORDER BY p NULLS LAST, o NULLS LAST, v NULLS LAST
-- @name wy_distinct_0
SELECT p, o, count(DISTINCT v) OVER (PARTITION BY p) AS c FROM wy ORDER BY p, o
-- @lowered
SELECT p, o, CAST(size(collect_set(v) OVER (PARTITION BY p)) AS BIGINT) AS c FROM wy ORDER BY p NULLS LAST, o NULLS LAST
-- @name wy_distinct_1
SELECT p, o, count(DISTINCT v) OVER (PARTITION BY p ORDER BY o ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS c FROM wy ORDER BY p, o
-- @lowered
SELECT p, o, CAST(size(collect_set(v) OVER (PARTITION BY p ORDER BY o ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)) AS BIGINT) AS c FROM wy ORDER BY p NULLS LAST, o NULLS LAST
-- @name wy_distinct_2
SELECT p, o, count(DISTINCT v) OVER (PARTITION BY p ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS c FROM wy ORDER BY p, o
-- @lowered
SELECT p, o, CAST((size(collect_set(v) OVER (PARTITION BY p)) - (CASE WHEN (v) IS NOT NULL AND count(v) OVER (PARTITION BY p, (v)) = 1 THEN 1 ELSE 0 END)) AS BIGINT) AS c FROM wy ORDER BY p NULLS LAST, o NULLS LAST
-- @name wy_distinct_3
SELECT p, o, count(DISTINCT v) OVER (PARTITION BY p ORDER BY o % 2 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS c FROM wy ORDER BY p, o
-- @lowered
SELECT  p, o, CAST(size(array_distinct(concat(collect_set(v) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN unbounded preceding AND 1 PRECEDING), filter(array(v), __w18v -> __w18v IS NOT NULL)))) AS BIGINT) AS c  FROM (SELECT *, dense_rank() OVER (PARTITION BY p ORDER BY o % 2 NULLS LAST) AS `__grp_0` FROM wy ) wy ORDER BY p NULLS LAST, o NULLS LAST
-- @name wy_distinct_4
SELECT p, o, count(DISTINCT v) OVER (PARTITION BY p ORDER BY o % 2 RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS c FROM wy ORDER BY p, o
-- @lowered
SELECT  p, o, CAST(size(array_distinct(concat(collect_set(v) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN unbounded preceding AND 1 PRECEDING), collect_set(v) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN 1 FOLLOWING AND unbounded following)))) AS BIGINT) AS c  FROM (SELECT *, dense_rank() OVER (PARTITION BY p ORDER BY o % 2 NULLS LAST) AS `__grp_0` FROM wy ) wy ORDER BY p NULLS LAST, o NULLS LAST
-- @name wy_distinct_5
SELECT p, o, count(DISTINCT v) FILTER (WHERE o % 2 = 1) OVER (PARTITION BY p ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS c FROM wy ORDER BY p, o
-- @lowered
SELECT p, o, CAST((size(collect_set(CASE WHEN (o % 2 = 1) THEN (v) END) OVER (PARTITION BY p)) - (CASE WHEN (CASE WHEN (o % 2 = 1) THEN (v) END) IS NOT NULL AND count(CASE WHEN (o % 2 = 1) THEN (v) END) OVER (PARTITION BY p, (CASE WHEN (o % 2 = 1) THEN (v) END)) = 1 THEN 1 ELSE 0 END)) AS BIGINT) AS c FROM wy ORDER BY p NULLS LAST, o NULLS LAST
-- @name wy_distinct_6
SELECT p, o, count(DISTINCT coalesce(v, 99)) OVER (PARTITION BY p) AS c FROM wy ORDER BY p, o
-- @lowered
SELECT p, o, CAST(size(collect_set(coalesce(v, 99)) OVER (PARTITION BY p)) AS BIGINT) AS c FROM wy ORDER BY p NULLS LAST, o NULLS LAST
-- @name wy_distinct_named
SELECT p, o, count(DISTINCT v) OVER w AS c FROM wy
         WINDOW w AS (PARTITION BY p) ORDER BY p, o
-- @lowered
SELECT p, o, CAST(size(collect_set(v) OVER w) AS BIGINT) AS c FROM wy
         WINDOW w AS (PARTITION BY p) ORDER BY p NULLS LAST, o NULLS LAST
-- @name wy_avg_distinct
SELECT p, o, avg(DISTINCT v) OVER (PARTITION BY p) AS a FROM wy ORDER BY p, o
-- @lowered
SELECT p, o, avg_distinct_exact(v) OVER (PARTITION BY p) AS a FROM wy ORDER BY p NULLS LAST, o NULLS LAST
-- @name wy_bad_median_distinct
SELECT median(DISTINCT v) OVER (PARTITION BY p) FROM wy
-- @lowered
!error
-- @name wy_bad_count_two_keys
SELECT count(DISTINCT o, v) OVER (PARTITION BY p) FROM wy
-- @lowered
!error
-- @name wy_bad_sum_two_keys
SELECT sum(DISTINCT o, v) OVER (PARTITION BY p) FROM wy
-- @lowered
!error
-- @name wy_plain_count_distinct
SELECT count(DISTINCT v) AS c FROM wy
-- @lowered
SELECT count(DISTINCT v) AS c FROM wy
-- @name wf_filter_fold
SELECT p, o,
           count(*) FILTER (WHERE x > 10) OVER (PARTITION BY p
             ORDER BY o) AS c,
           sum(x) FILTER (WHERE o % 2 = 1) OVER (PARTITION BY p
             ORDER BY o ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s,
           min(x) FILTER (WHERE x > 5) OVER (PARTITION BY p) AS mn,
           avg(x) FILTER (WHERE x < 25) OVER (PARTITION BY p) AS av,
           count(DISTINCT x % 2) FILTER (WHERE x >= 10) OVER (
             PARTITION BY p) AS cd
         FROM wf ORDER BY p, o
-- @lowered
SELECT p, o,
           count(CASE WHEN (x > 10) THEN 1 END) OVER (PARTITION BY p
             ORDER BY o) AS c,
           sum(CASE WHEN (o % 2 = 1) THEN (x) END) OVER (PARTITION BY p
             ORDER BY o ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s,
           min(CASE WHEN (x > 5) THEN (x) END) OVER (PARTITION BY p) AS mn,
           avg(CASE WHEN (x < 25) THEN (x) END) OVER (PARTITION BY p) AS av,
           CAST(size(collect_set(CASE WHEN (x >= 10) THEN (x % 2) END) OVER (
             PARTITION BY p)) AS BIGINT) AS cd
         FROM wf ORDER BY p NULLS LAST, o NULLS LAST
-- @name wf_bad_stddev
SELECT stddev(x) FILTER (WHERE x > 0) OVER (PARTITION BY p) FROM wf
-- @lowered
!error
-- @name wf_sum_distinct_filter
SELECT p, o,
           sum(DISTINCT x) FILTER (WHERE x > 10) OVER (PARTITION BY p)
             AS sd,
           avg(DISTINCT x) OVER (PARTITION BY p) AS ad
         FROM wf ORDER BY p, o
-- @lowered
SELECT p, o,
           sum_distinct_exact(CASE WHEN (x > 10) THEN (x) END) OVER (PARTITION BY p)
             AS sd,
           avg_distinct_exact(x) OVER (PARTITION BY p) AS ad
         FROM wf ORDER BY p NULLS LAST, o NULLS LAST
-- @name wf_sum_distinct_double
SELECT sum(DISTINCT CAST(x AS DOUBLE)) OVER (PARTITION BY p) FROM wf
-- @lowered
SELECT sum_distinct_exact(CAST(x AS DOUBLE)) OVER (PARTITION BY p) FROM wf
-- @name wf_plain_filter
SELECT count(*) FILTER (WHERE x > 5) AS c FROM wf
-- @lowered
SELECT count(*) FILTER (WHERE x > 5) AS c FROM wf
-- @name wc_chained
SELECT p, o,
           sum(x) OVER w2 AS s_run,
           sum(x) OVER (w1 ORDER BY o
             ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s_roll,
           count(*) OVER (w1) AS c_p,
           max(x) OVER (w2 ROWS BETWEEN CURRENT ROW AND
             UNBOUNDED FOLLOWING) AS mx_f
         FROM wc WINDOW w1 AS (PARTITION BY p), w2 AS (w1 ORDER BY o)
         ORDER BY p, o
-- @lowered
SELECT p, o,
           sum(x) OVER w2 AS s_run,
           sum(x) OVER (PARTITION BY p ORDER BY o
             ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s_roll,
           count(*) OVER (PARTITION BY p) AS c_p,
           max(x) OVER (PARTITION BY p ORDER BY o ROWS BETWEEN CURRENT ROW AND
             UNBOUNDED FOLLOWING) AS mx_f
         FROM wc WINDOW w1 AS (PARTITION BY p), w2 AS (PARTITION BY p ORDER BY o)
         ORDER BY p NULLS LAST, o NULLS LAST
-- @name wc_bad_adds_order
SELECT sum(x) OVER (w1 ORDER BY x) FROM wc
        WINDOW w1 AS (PARTITION BY p ORDER BY o)
-- @lowered
!error
-- @name wc_bad_framed_base
SELECT sum(x) OVER (w1 ORDER BY o) FROM wc
        WINDOW w1 AS (PARTITION BY p ROWS BETWEEN 1 PRECEDING AND
        CURRENT ROW)
-- @lowered
!error
-- @name wc_bad_partition
SELECT sum(x) OVER (w1 PARTITION BY o) FROM wc
        WINDOW w1 AS (PARTITION BY p)
-- @lowered
!error
-- @name wc_chain_of_chains
SELECT sum(x) OVER w3 AS s FROM wc
         WINDOW w1 AS (PARTITION BY p), w2 AS (w1 ORDER BY o),
                w3 AS (w2 ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)
         ORDER BY p, o
-- @lowered
SELECT sum(x) OVER w3 AS s FROM wc
         WINDOW w1 AS (PARTITION BY p), w2 AS (PARTITION BY p ORDER BY o),
                w3 AS (PARTITION BY p ORDER BY o ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)
         ORDER BY p NULLS LAST, o NULLS LAST
-- @name wc_unknown_head
SELECT sum(x) OVER (nope ORDER BY o) FROM wc
         WINDOW w1 AS (PARTITION BY p)
-- @lowered
SELECT sum(x) OVER (nope ORDER BY o) FROM wc
         WINDOW w1 AS (PARTITION BY p)
-- @name wx_passthrough
SELECT SUM(v) OVER (PARTITION BY p ORDER BY o) AS s FROM wx
-- @lowered
SELECT SUM(v) OVER (PARTITION BY p ORDER BY o) AS s FROM wx
-- @name wx_passthrough_literal
SELECT 'exclude current row' AS s FROM wx
-- @lowered
SELECT 'exclude current row' AS s FROM wx
-- @name wx_bad_two_clauses
SELECT SUM(v) OVER w AS a FROM (
            SELECT p, o, SUM(v) OVER w AS v FROM wx WINDOW w AS (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          ) t WINDOW w AS (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW)
-- @lowered
!error
-- @name wx_bare_reference
SELECT SUM(v) OVER w AS a FROM wx
          WINDOW w2 AS (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), w AS w2 ORDER BY a NULLS FIRST
-- @lowered
SELECT SUM(v) OVER w AS a FROM wx
          WINDOW w2 AS (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), w AS w2 ORDER BY a NULLS FIRST
-- @name wx_chained_exclude
SELECT p, o, v, SUM(v) OVER w AS a FROM wx
          WINDOW base AS (PARTITION BY p ORDER BY o),
                 w AS (base ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       EXCLUDE CURRENT ROW)
          ORDER BY p, o, v NULLS LAST
-- @lowered
SELECT p, o, v, (CASE WHEN (COUNT(v) OVER (PARTITION BY p ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (CASE WHEN (v) IS NULL THEN 0 ELSE 1 END)) = 0 THEN NULL ELSE SUM(v) OVER (PARTITION BY p ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COALESCE((v), 0) END) AS a FROM wx
          WINDOW base AS (PARTITION BY p ORDER BY o) ORDER BY p NULLS LAST, o NULLS LAST, v NULLS LAST
-- @name wx_bad_inlines_away
SELECT SUM(v) OVER w2 AS a FROM wx
          WINDOW w AS (PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW), w2 AS w
-- @lowered
!error
-- @name wc_subquery_inline_exclude
SELECT p, o, s FROM (
            SELECT p, o, sum(x) OVER (PARTITION BY p ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS s FROM wc
          ) t ORDER BY p, o
-- @lowered
SELECT p, o, s FROM (
            SELECT p, o, (CASE WHEN (COUNT(x) OVER (PARTITION BY p ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) - (CASE WHEN (x) IS NULL THEN 0 ELSE 1 END)) = 0 THEN NULL ELSE SUM(x) OVER (PARTITION BY p ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) - COALESCE((x), 0) END) AS s FROM wc
          ) t ORDER BY p NULLS LAST, o NULLS LAST
-- @name wc_subquery_named_exclude
SELECT p, o, s FROM (
            SELECT p, o, sum(x) OVER w AS s FROM wc
            WINDOW w AS (PARTITION BY p ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW)
          ) t ORDER BY p, o
-- @lowered
!error
-- @name wc_named_exclude_filter
SELECT p, o, sum(x) FILTER (WHERE x > 10) OVER w AS s FROM wc
          WINDOW w AS (PARTITION BY p ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) ORDER BY p, o
-- @lowered
SELECT p, o, (CASE WHEN (COUNT(CASE WHEN (x > 10) THEN (x) END) OVER (PARTITION BY p ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) - (CASE WHEN (CASE WHEN (x > 10) THEN (x) END) IS NULL THEN 0 ELSE 1 END)) = 0 THEN NULL ELSE SUM(CASE WHEN (x > 10) THEN (x) END) OVER (PARTITION BY p ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) - COALESCE((CASE WHEN (x > 10) THEN (x) END), 0) END) AS s FROM wc
          ORDER BY p NULLS LAST, o NULLS LAST
-- @name gf_bounds
SELECT p, g, v,
           SUM(v) OVER (PARTITION BY p ORDER BY g
             GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s,
           COUNT(*) OVER (PARTITION BY p ORDER BY g
             GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
           SUM(v) OVER (PARTITION BY p ORDER BY g
             GROUPS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS sb,
           MIN(v) OVER (PARTITION BY p ORDER BY g
             GROUPS 1 PRECEDING) AS mn
         FROM gf ORDER BY p, g, v
-- @lowered
SELECT  p, g, v,
           SUM(v) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s,
           COUNT(*) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
           SUM(v) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN 2 PRECEDING AND 1 PRECEDING) AS sb,
           MIN(v) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE 1 PRECEDING) AS mn
          FROM (SELECT *, dense_rank() OVER (PARTITION BY p ORDER BY g NULLS LAST) AS `__grp_0` FROM gf ) gf ORDER BY p NULLS LAST, g NULLS LAST, v NULLS LAST
-- @name gf_where_alias
SELECT t.g, SUM(t.v) OVER (ORDER BY t.g
           GROUPS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS s
         FROM gf t WHERE t.p = 1 AND t.v <> 5
         ORDER BY t.g, t.v
-- @lowered
SELECT  t.g, SUM(t.v) OVER (ORDER BY `__grp_0` RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS s
          FROM (SELECT *, dense_rank() OVER (ORDER BY t.g NULLS LAST) AS `__grp_0` FROM gf t WHERE t.p = 1 AND t.v <> 5
         ) t ORDER BY t.g NULLS LAST, t.v NULLS LAST
-- @name gf_shared_index
SELECT SUM(v) OVER (PARTITION BY p ORDER BY g
                 GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS a,
               COUNT(*) OVER (PARTITION BY p ORDER BY g
                 GROUPS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS b
               FROM gf
-- @lowered
SELECT  SUM(v) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS a,
               COUNT(*) OVER (PARTITION BY p ORDER BY `__grp_0` RANGE BETWEEN CURRENT ROW AND 1 FOLLOWING) AS b
                FROM (SELECT *, dense_rank() OVER (PARTITION BY p ORDER BY g NULLS LAST) AS `__grp_0` FROM gf) gf 
-- @name gf_nulls_last
SELECT v, SUM(v) OVER (ORDER BY g
           GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
         FROM gfn ORDER BY v
-- @lowered
SELECT  v, SUM(v) OVER (ORDER BY `__grp_0` RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
          FROM (SELECT *, dense_rank() OVER (ORDER BY g NULLS LAST) AS `__grp_0` FROM gfn ) gfn ORDER BY v NULLS LAST
-- @name gf_bad_subquery
SELECT x FROM (SELECT SUM(v) OVER (ORDER BY g
        GROUPS 1 PRECEDING) AS x FROM gf) t
-- @lowered
!error
-- @name gf_bad_star
SELECT *, SUM(v) OVER (ORDER BY g GROUPS 1 PRECEDING)
        FROM gf
-- @lowered
!error
-- @name gf_bad_join
SELECT a.v FROM gf a JOIN gf b ON a.g = b.g
        WHERE SUM(a.v) OVER (ORDER BY a.g GROUPS 1 PRECEDING) > 0
-- @lowered
!error
-- @name gf_bad_with
WITH c AS (SELECT * FROM gf)
        SELECT SUM(v) OVER (ORDER BY g GROUPS 1 PRECEDING) FROM c
-- @lowered
!error
-- @name gf_bad_no_order
SELECT SUM(v) OVER (PARTITION BY p
        GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM gf
-- @lowered
!error
-- @name gf_groups_identifier
SELECT groups, SUM(v) OVER (PARTITION BY groups ORDER BY o) FROM t
-- @lowered
SELECT groups, SUM(v) OVER (PARTITION BY groups ORDER BY o) FROM t
-- @name gf_groups_literal
SELECT 'groups between' AS s FROM t -- groups 1 preceding
-- @lowered
SELECT 'groups between' AS s FROM t -- groups 1 preceding
-- @name ds_row_number
select row_number() over (partition by k order by v) rn from t
-- @lowered
select row_number() over (partition by k order by v) rn from t
-- @name ds_qualify_alias
select k, row_number() over (order by v) as rn from t qualify rn <= 2 order by k limit 5
-- @lowered
select k, row_number() over (order by v) as rn from t qualify rn <= 2 order by k NULLS LAST limit 5
-- @name ds_qualify_direct
select k from t qualify rank() over (order by k) = 1
-- @lowered
select k from t qualify rank() over (order by k) = 1
-- @name ds_distinct_on_qualify
SELECT DISTINCT ON (k) k FROM t QUALIFY row_number() OVER (ORDER BY k) = 1 ORDER BY k
-- @lowered
SELECT DISTINCT ON (k) k FROM t QUALIFY row_number() OVER (ORDER BY k) = 1 ORDER BY k NULLS LAST
-- @name ds_ignore_nulls
SELECT lag(b IGNORE NULLS) OVER (ORDER BY a) FROM t
-- @lowered
SELECT lag(b) IGNORE NULLS OVER (ORDER BY a) FROM t
-- @name ds_respect_nulls
SELECT nth_value(b, 2 RESPECT NULLS) OVER w FROM t
-- @lowered
SELECT nth_value(b, 2) RESPECT NULLS OVER w FROM t
-- @name ds_ignore_nulls_outside
SELECT last_value(b) IGNORE NULLS OVER (ORDER BY a) FROM t
-- @lowered
SELECT last_value(b) IGNORE NULLS OVER (ORDER BY a) FROM t
-- @name w06_value_windows
SELECT o_orderkey,
                first_value(o_orderkey) OVER w AS fv,
                last_value(o_orderkey) OVER (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv,
                nth_value(o_orderkey, 3) OVER w AS nv
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey
-- @lowered
SELECT o_orderkey,
                first_value(o_orderkey) OVER w AS fv,
                last_value(o_orderkey) OVER (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv,
                nth_value(o_orderkey, 3) OVER w AS nv
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey NULLS LAST
-- @name w07_dist_windows
SELECT o_orderkey,
                round(percent_rank() OVER w, 6) AS pr,
                round(cume_dist() OVER w, 6) AS cd,
                nth_value(o_orderkey, 2) OVER w AS nth2
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
         ORDER BY o_orderkey
-- @lowered
SELECT o_orderkey,
                round(percent_rank() OVER w, 6) AS pr,
                round(cume_dist() OVER w, 6) AS cd,
                nth_value(o_orderkey, 2) OVER w AS nth2
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
         ORDER BY o_orderkey NULLS LAST
-- @name w12_window_exclude
WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS st,
                  o_orderkey % 20 AS g,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders WHERE o_orderkey % 7 = 0)
         SELECT k,
           CAST(SUM(cents) OVER (PARTITION BY st ORDER BY g
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             EXCLUDE CURRENT ROW) AS BIGINT) AS s_cur,
           CAST(SUM(cents) OVER (PARTITION BY st ORDER BY g
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             EXCLUDE GROUP) AS BIGINT) AS s_grp,
           CAST(SUM(cents) OVER (PARTITION BY st ORDER BY g
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             EXCLUDE TIES) AS BIGINT) AS s_ties,
           COUNT(*) OVER (PARTITION BY st ORDER BY g
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             EXCLUDE GROUP) AS c_grp,
           round(AVG(cents) OVER (PARTITION BY st ORDER BY g
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             EXCLUDE CURRENT ROW), 6) AS a_cur,
           CAST(SUM(cents) OVER (PARTITION BY st ORDER BY k
             ROWS BETWEEN 3 PRECEDING AND 1 FOLLOWING
             EXCLUDE CURRENT ROW) AS BIGINT) AS s_rows,
           CAST(SUM(cents) OVER (PARTITION BY st ORDER BY k
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
             EXCLUDE NO OTHERS) AS BIGINT) AS s_none
         FROM o ORDER BY k
-- @lowered
WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS st,
                  o_orderkey % 20 AS g,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders WHERE o_orderkey % 7 = 0)
         SELECT k,
           CAST((CASE WHEN (COUNT(cents) OVER (PARTITION BY st ORDER BY g
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (CASE WHEN (cents) IS NULL THEN 0 ELSE 1 END)) = 0 THEN NULL ELSE SUM(cents) OVER (PARTITION BY st ORDER BY g
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COALESCE((cents), 0) END) AS BIGINT) AS s_cur,
           CAST((CASE WHEN (COUNT(cents) OVER (PARTITION BY st ORDER BY g
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COUNT(cents) OVER (PARTITION BY st ORDER BY g RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) = 0 THEN NULL ELSE SUM(cents) OVER (PARTITION BY st ORDER BY g
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COALESCE(SUM(cents) OVER (PARTITION BY st ORDER BY g RANGE BETWEEN CURRENT ROW AND CURRENT ROW), 0) END) AS BIGINT) AS s_grp,
           CAST((CASE WHEN (COUNT(cents) OVER (PARTITION BY st ORDER BY g
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (COUNT(cents) OVER (PARTITION BY st ORDER BY g RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - (CASE WHEN (cents) IS NULL THEN 0 ELSE 1 END))) = 0 THEN NULL ELSE SUM(cents) OVER (PARTITION BY st ORDER BY g
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (COALESCE(SUM(cents) OVER (PARTITION BY st ORDER BY g RANGE BETWEEN CURRENT ROW AND CURRENT ROW), 0) - COALESCE((cents), 0)) END) AS BIGINT) AS s_ties,
           (COUNT(*) OVER (PARTITION BY st ORDER BY g
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COUNT(*) OVER (PARTITION BY st ORDER BY g RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) AS c_grp,
           round((CASE WHEN (COUNT(cents) OVER (PARTITION BY st ORDER BY g
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (CASE WHEN (cents) IS NULL THEN 0 ELSE 1 END)) = 0 THEN NULL ELSE CAST(SUM(cents) OVER (PARTITION BY st ORDER BY g
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COALESCE((cents), 0) AS DOUBLE) / (COUNT(cents) OVER (PARTITION BY st ORDER BY g
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (CASE WHEN (cents) IS NULL THEN 0 ELSE 1 END)) END), 6) AS a_cur,
           CAST((CASE WHEN (COUNT(cents) OVER (PARTITION BY st ORDER BY k
             ROWS BETWEEN 3 PRECEDING AND 1 FOLLOWING) - (CASE WHEN (cents) IS NULL THEN 0 ELSE 1 END)) = 0 THEN NULL ELSE SUM(cents) OVER (PARTITION BY st ORDER BY k
             ROWS BETWEEN 3 PRECEDING AND 1 FOLLOWING) - COALESCE((cents), 0) END) AS BIGINT) AS s_rows,
           CAST(SUM(cents) OVER (PARTITION BY st ORDER BY k
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s_none
         FROM o ORDER BY k NULLS LAST
-- @name w15_minmax_exclude
SELECT o_orderkey AS k,
           MIN(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
             EXCLUDE CURRENT ROW) AS mn_w,
           MAX(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             EXCLUDE CURRENT ROW) AS mx_all,
           MIN(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING
             EXCLUDE CURRENT ROW) AS mn_f,
           MAX(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
             EXCLUDE CURRENT ROW) AS mx_b
         FROM orders WHERE o_orderkey % 9 = 0
         ORDER BY k
-- @lowered
SELECT o_orderkey AS k,
           LEAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey ROWS BETWEEN 3 preceding AND 1 PRECEDING), min(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey ROWS BETWEEN 1 FOLLOWING AND 3 following)) AS mn_w,
           GREATEST(max(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey ROWS BETWEEN unbounded preceding AND 1 PRECEDING), max(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey ROWS BETWEEN 1 FOLLOWING AND unbounded following)) AS mx_all,
           (min(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey ROWS BETWEEN 1 FOLLOWING AND 2 following)) AS mn_f,
           (max(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey ROWS BETWEEN 2 preceding AND 1 PRECEDING)) AS mx_b
         FROM orders WHERE o_orderkey % 9 = 0
         ORDER BY k NULLS LAST
-- @name w16_minmax_exclude_group
SELECT o_orderkey AS k,
           MIN(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             EXCLUDE GROUP) AS mn_run,
           MAX(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             EXCLUDE TIES) AS mx_ties,
           MIN(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
             RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             EXCLUDE GROUP) AS mn_all,
           MAX(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
             RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             EXCLUDE TIES) AS mx_fwd
         FROM orders WHERE o_orderkey % 9 = 0
         ORDER BY k
-- @lowered
SELECT  o_orderkey AS k,
           (min(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN unbounded preceding AND 1 PRECEDING)) AS mn_run,
           GREATEST(max(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN unbounded preceding AND 1 PRECEDING), (CAST(round(o_totalprice * 100) AS BIGINT))) AS mx_ties,
           LEAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN unbounded preceding AND 1 PRECEDING), min(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN 1 FOLLOWING AND unbounded following)) AS mn_all,
           GREATEST(max(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN 1 FOLLOWING AND unbounded following), (CAST(round(o_totalprice * 100) AS BIGINT))) AS mx_fwd
          FROM (SELECT *, dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 5 NULLS LAST) AS `__grp_0` FROM orders WHERE o_orderkey % 9 = 0
         ) orders ORDER BY k NULLS LAST
-- @name w17_filter_exclude
SELECT o_orderkey AS k,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
             FILTER (WHERE o_orderpriority < '3') OVER (
               PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               EXCLUDE GROUP) AS BIGINT) AS s_f,
           COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
             RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             EXCLUDE TIES) AS c_f,
           MIN(CAST(round(o_totalprice * 100) AS BIGINT))
             FILTER (WHERE o_orderkey % 3 = 0) OVER (
               PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               EXCLUDE GROUP) AS mn_f,
           round(AVG(CAST(round(o_totalprice * 100) AS BIGINT))
             FILTER (WHERE o_orderkey % 2 = 1) OVER (
               PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
               RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               EXCLUDE CURRENT ROW), 6) AS avg_f
         FROM orders WHERE o_orderkey % 9 = 0
         ORDER BY k
-- @lowered
SELECT  o_orderkey AS k,
           CAST((CASE WHEN (COUNT(CASE WHEN (o_orderpriority < '3') THEN (CAST(round(o_totalprice * 100) AS BIGINT)) END) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COUNT(CASE WHEN (o_orderpriority < '3') THEN (CAST(round(o_totalprice * 100) AS BIGINT)) END) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 5 RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) = 0 THEN NULL ELSE SUM(CASE WHEN (o_orderpriority < '3') THEN (CAST(round(o_totalprice * 100) AS BIGINT)) END) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - COALESCE(SUM(CASE WHEN (o_orderpriority < '3') THEN (CAST(round(o_totalprice * 100) AS BIGINT)) END) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 5 RANGE BETWEEN CURRENT ROW AND CURRENT ROW), 0) END) AS BIGINT) AS s_f,
           (COUNT(CASE WHEN (o_orderkey % 2 = 0) THEN 1 END) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
             RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) - (COUNT(CASE WHEN (o_orderkey % 2 = 0) THEN 1 END) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 5 RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - (CASE WHEN (CASE WHEN (o_orderkey % 2 = 0) THEN 1 END) IS NULL THEN 0 ELSE 1 END))) AS c_f,
           (min(CASE WHEN (o_orderkey % 3 = 0) THEN (CAST(round(o_totalprice * 100) AS BIGINT)) END) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN unbounded preceding AND 1 PRECEDING)) AS mn_f,
           round((CASE WHEN (COUNT(CASE WHEN (o_orderkey % 2 = 1) THEN (CAST(round(o_totalprice * 100) AS BIGINT)) END) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
               RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) - (CASE WHEN (CASE WHEN (o_orderkey % 2 = 1) THEN (CAST(round(o_totalprice * 100) AS BIGINT)) END) IS NULL THEN 0 ELSE 1 END)) = 0 THEN NULL ELSE CAST(SUM(CASE WHEN (o_orderkey % 2 = 1) THEN (CAST(round(o_totalprice * 100) AS BIGINT)) END) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
               RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) - COALESCE((CASE WHEN (o_orderkey % 2 = 1) THEN (CAST(round(o_totalprice * 100) AS BIGINT)) END), 0) AS DOUBLE) / (COUNT(CASE WHEN (o_orderkey % 2 = 1) THEN (CAST(round(o_totalprice * 100) AS BIGINT)) END) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
               RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) - (CASE WHEN (CASE WHEN (o_orderkey % 2 = 1) THEN (CAST(round(o_totalprice * 100) AS BIGINT)) END) IS NULL THEN 0 ELSE 1 END)) END), 6) AS avg_f
          FROM (SELECT *, dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 5 NULLS LAST) AS `__grp_0` FROM orders WHERE o_orderkey % 9 = 0
         ) orders ORDER BY k NULLS LAST
-- @name w18_count_distinct_window
SELECT o_orderkey AS k,
           count(DISTINCT o_orderpriority) OVER (
             PARTITION BY o_orderstatus) AS cd_part,
           count(DISTINCT o_custkey % 10) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS cd_frame,
           count(DISTINCT o_custkey % 10) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             EXCLUDE CURRENT ROW) AS cd_excl,
           count(DISTINCT o_orderpriority)
             FILTER (WHERE o_totalprice > 150000) OVER (
               PARTITION BY o_orderstatus ORDER BY o_orderkey
               ROWS BETWEEN 10 PRECEDING AND 10 FOLLOWING
               EXCLUDE CURRENT ROW) AS cd_filt,
           count(DISTINCT o_custkey % 10) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             EXCLUDE TIES) AS cd_ties
         FROM orders WHERE o_orderkey % 7 = 0
         ORDER BY k
-- @lowered
SELECT  o_orderkey AS k,
           CAST(size(collect_set(o_orderpriority) OVER (
             PARTITION BY o_orderstatus)) AS BIGINT) AS cd_part,
           CAST(size(collect_set(o_custkey % 10) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)) AS BIGINT) AS cd_frame,
           CAST((size(collect_set(o_custkey % 10) OVER (PARTITION BY o_orderstatus)) - (CASE WHEN (o_custkey % 10) IS NOT NULL AND count(o_custkey % 10) OVER (PARTITION BY o_orderstatus, (o_custkey % 10)) = 1 THEN 1 ELSE 0 END)) AS BIGINT) AS cd_excl,
           CAST(size(array_distinct(concat(collect_set(CASE WHEN (o_totalprice > 150000) THEN (o_orderpriority) END) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey ROWS BETWEEN 10 preceding AND 1 PRECEDING), collect_set(CASE WHEN (o_totalprice > 150000) THEN (o_orderpriority) END) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey ROWS BETWEEN 1 FOLLOWING AND 10 following)))) AS BIGINT) AS cd_filt,
           CAST(size(array_distinct(concat(collect_set(o_custkey % 10) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN unbounded preceding AND 1 PRECEDING), filter(array(o_custkey % 10), __w18v -> __w18v IS NOT NULL)))) AS BIGINT) AS cd_ties
          FROM (SELECT *, dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 5 NULLS LAST) AS `__grp_0` FROM orders WHERE o_orderkey % 7 = 0
         ) orders ORDER BY k NULLS LAST
-- @name w20_window_filter
SELECT o_orderkey AS k,
           COUNT(*) FILTER (WHERE o_totalprice > 200000) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey) AS c_run,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
             FILTER (WHERE o_orderkey % 2 = 0) OVER (
               PARTITION BY o_orderstatus ORDER BY o_orderkey
               ROWS BETWEEN 3 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s_f,
           MIN(CAST(round(o_totalprice * 100) AS BIGINT))
             FILTER (WHERE o_orderpriority < '3') OVER (
               PARTITION BY o_orderstatus) AS mn_f,
           round(AVG(CAST(round(o_totalprice * 100) AS BIGINT))
             FILTER (WHERE o_orderkey % 3 = 0) OVER (
               PARTITION BY o_orderstatus ORDER BY o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS a_f,
           count(DISTINCT o_orderpriority)
             FILTER (WHERE o_totalprice > 100000) OVER (
               PARTITION BY o_orderstatus ORDER BY o_orderkey
               ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS cd_f
         FROM orders WHERE o_orderkey % 13 = 0
         ORDER BY k
-- @lowered
SELECT o_orderkey AS k,
           COUNT(CASE WHEN (o_totalprice > 200000) THEN 1 END) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey) AS c_run,
           CAST(SUM(CASE WHEN (o_orderkey % 2 = 0) THEN (CAST(round(o_totalprice * 100) AS BIGINT)) END) OVER (
               PARTITION BY o_orderstatus ORDER BY o_orderkey
               ROWS BETWEEN 3 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s_f,
           MIN(CASE WHEN (o_orderpriority < '3') THEN (CAST(round(o_totalprice * 100) AS BIGINT)) END) OVER (
               PARTITION BY o_orderstatus) AS mn_f,
           round(AVG(CASE WHEN (o_orderkey % 3 = 0) THEN (CAST(round(o_totalprice * 100) AS BIGINT)) END) OVER (
               PARTITION BY o_orderstatus ORDER BY o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS a_f,
           CAST(size(collect_set(CASE WHEN (o_totalprice > 100000) THEN (o_orderpriority) END) OVER (
               PARTITION BY o_orderstatus ORDER BY o_orderkey
               ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)) AS BIGINT) AS cd_f
         FROM orders WHERE o_orderkey % 13 = 0
         ORDER BY k NULLS LAST
-- @name w22_sum_distinct_window
SELECT o_orderkey AS k,
           CAST(sum(DISTINCT o_custkey % 97) OVER (
             PARTITION BY o_orderstatus) AS BIGINT) AS sd_part,
           avg(DISTINCT o_custkey % 97) OVER (
             PARTITION BY o_orderstatus) AS ad_part,
           CAST(sum(DISTINCT o_custkey % 11) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING) AS BIGINT)
             AS sd_frame,
           CAST(sum(DISTINCT o_custkey % 11)
             FILTER (WHERE o_totalprice > 120000) OVER (
               PARTITION BY o_orderstatus ORDER BY o_orderkey
               ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS BIGINT)
             AS sd_filt,
           CAST(sum(DISTINCT o_custkey % 11) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             EXCLUDE CURRENT ROW) AS BIGINT) AS sd_excl,
           avg(DISTINCT o_custkey % 13) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
             EXCLUDE CURRENT ROW) AS ad_excl,
           CAST(sum(DISTINCT o_custkey % 10) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             EXCLUDE TIES) AS BIGINT) AS sd_ties,
           CAST(sum(DISTINCT CAST(round(o_totalprice) AS DECIMAL(18,2))
             ) OVER (PARTITION BY o_orderstatus) AS DOUBLE) AS sd_dec
         FROM orders WHERE o_orderkey % 7 = 0
         ORDER BY k
-- @lowered
SELECT  o_orderkey AS k,
           CAST(sum_distinct_exact(o_custkey % 97) OVER (
             PARTITION BY o_orderstatus) AS BIGINT) AS sd_part,
           avg_distinct_exact(o_custkey % 97) OVER (
             PARTITION BY o_orderstatus) AS ad_part,
           CAST(sum_distinct_exact(o_custkey % 11) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING) AS BIGINT)
             AS sd_frame,
           CAST(sum_distinct_exact(CASE WHEN (o_totalprice > 120000) THEN (o_custkey % 11) END) OVER (
               PARTITION BY o_orderstatus ORDER BY o_orderkey
               ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS BIGINT)
             AS sd_filt,
           CAST((CASE WHEN (size(collect_set(o_custkey % 11) OVER (PARTITION BY o_orderstatus)) - (CASE WHEN (o_custkey % 11) IS NOT NULL AND count(o_custkey % 11) OVER (PARTITION BY o_orderstatus, (o_custkey % 11)) = 1 THEN 1 ELSE 0 END)) = 0 THEN NULL ELSE (array_sum_exact(collect_set(o_custkey % 11) OVER (PARTITION BY o_orderstatus)) - (CASE WHEN (o_custkey % 11) IS NOT NULL AND count(o_custkey % 11) OVER (PARTITION BY o_orderstatus, (o_custkey % 11)) = 1 THEN (o_custkey % 11) ELSE 0 END)) END) AS BIGINT) AS sd_excl,
           array_avg_exact(array_distinct(concat(collect_set(o_custkey % 13) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey ROWS BETWEEN 3 preceding AND 1 PRECEDING), collect_set(o_custkey % 13) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey ROWS BETWEEN 1 FOLLOWING AND 3 following)))) AS ad_excl,
           CAST(array_sum_exact(array_distinct(concat(collect_set(o_custkey % 10) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN unbounded preceding AND 1 PRECEDING), filter(array(o_custkey % 10), __w18v -> __w18v IS NOT NULL)))) AS BIGINT) AS sd_ties,
           CAST(sum_distinct_exact(CAST(round(o_totalprice) AS DECIMAL(18,2))) OVER (PARTITION BY o_orderstatus) AS DOUBLE) AS sd_dec
          FROM (SELECT *, dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 5 NULLS LAST) AS `__grp_0` FROM orders WHERE o_orderkey % 7 = 0
         ) orders ORDER BY k NULLS LAST
-- @name w23_ignore_nulls
SELECT o_orderkey AS k,
           lag(CASE WHEN o_orderkey % 3 = 0 THEN NULL
                    ELSE CAST(round(o_totalprice) AS BIGINT) END
               IGNORE NULLS) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey) AS prev_np,
           first_value(CASE WHEN o_orderkey % 4 = 0 THEN NULL
                            ELSE o_custkey END IGNORE NULLS) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey) AS first_np,
           last_value(CASE WHEN o_orderkey % 3 = 0 THEN NULL
                           ELSE o_custkey END IGNORE NULLS) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_np,
           lead(CASE WHEN o_orderkey % 5 = 0 THEN NULL
                     ELSE o_custkey END RESPECT NULLS) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey) AS next_rn
         FROM orders WHERE o_orderkey % 7 = 0
         ORDER BY k
-- @lowered
SELECT o_orderkey AS k,
           lag(CASE WHEN o_orderkey % 3 = 0 THEN NULL
                    ELSE CAST(round(o_totalprice) AS BIGINT) END) IGNORE NULLS OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey) AS prev_np,
           first_value(CASE WHEN o_orderkey % 4 = 0 THEN NULL
                            ELSE o_custkey END) IGNORE NULLS OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey) AS first_np,
           last_value(CASE WHEN o_orderkey % 3 = 0 THEN NULL
                           ELSE o_custkey END) IGNORE NULLS OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_np,
           lead(CASE WHEN o_orderkey % 5 = 0 THEN NULL
                     ELSE o_custkey END) RESPECT NULLS OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey) AS next_rn
         FROM orders WHERE o_orderkey % 7 = 0
         ORDER BY k NULLS LAST
-- @name w14_groups_frames
SELECT o_orderkey AS k,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
             GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s_adj,
           COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
             GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_run,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
             GROUPS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s_back,
           CAST(MIN(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
             GROUPS 1 PRECEDING) AS BIGINT) AS mn_g
         FROM orders WHERE o_orderkey % 11 = 0
         ORDER BY k
-- @lowered
SELECT  o_orderkey AS k,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s_adj,
           COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_run,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN 2 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s_back,
           CAST(MIN(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE 1 PRECEDING) AS BIGINT) AS mn_g
          FROM (SELECT *, dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 5 NULLS LAST) AS `__grp_0` FROM orders WHERE o_orderkey % 11 = 0
         ) orders ORDER BY k NULLS LAST
-- @name w19_groups_exclude
SELECT o_orderkey AS k,
           CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey % 7
             GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING
             EXCLUDE GROUP) AS BIGINT) AS s_g,
           COUNT(*) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey % 7
             GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING
             EXCLUDE TIES) AS c_t,
           round(AVG(CAST(round(o_totalprice*100) AS BIGINT)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey % 7
             GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING
             EXCLUDE GROUP), 6) AS a_g,
           MAX(CAST(round(o_totalprice*100) AS BIGINT)) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey % 7
             GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING
             EXCLUDE TIES) AS mx_t,
           count(DISTINCT CAST(round(o_totalprice*100) AS BIGINT) % 1000)
             OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 7
             GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING
             EXCLUDE GROUP) AS cd_g
         FROM orders WHERE o_orderkey % 11 = 0 ORDER BY k
-- @lowered
SELECT  o_orderkey AS k,
           CAST((CASE WHEN (COUNT(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) - COUNT(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 7 RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) = 0 THEN NULL ELSE SUM(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) - COALESCE(SUM(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 7 RANGE BETWEEN CURRENT ROW AND CURRENT ROW), 0) END) AS BIGINT) AS s_g,
           (COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) - (COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 7 RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1)) AS c_t,
           round((CASE WHEN (COUNT(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) - COUNT(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 7 RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) = 0 THEN NULL ELSE CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) - COALESCE(SUM(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 7 RANGE BETWEEN CURRENT ROW AND CURRENT ROW), 0) AS DOUBLE) / (COUNT(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) - COUNT(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 7 RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) END), 6) AS a_g,
           GREATEST(max(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN 1 preceding AND 1 PRECEDING), max(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN 1 FOLLOWING AND 1 following), (CAST(round(o_totalprice*100) AS BIGINT))) AS mx_t,
           CAST(size(array_distinct(concat(collect_set(CAST(round(o_totalprice*100) AS BIGINT) % 1000) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN 1 preceding AND 1 PRECEDING), collect_set(CAST(round(o_totalprice*100) AS BIGINT) % 1000) OVER (PARTITION BY o_orderstatus ORDER BY `__grp_0` RANGE BETWEEN 1 FOLLOWING AND 1 following)))) AS BIGINT) AS cd_g
          FROM (SELECT *, dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey % 7 NULLS LAST) AS `__grp_0` FROM orders WHERE o_orderkey % 11 = 0 ) orders ORDER BY k NULLS LAST
-- @name w21_chained_windows
SELECT o_orderkey AS k,
           COUNT(*) OVER w2 AS c_run,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             w2 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS s_roll,
           MAX(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (w1)
             AS mx_p
         FROM orders WHERE o_orderkey % 17 = 0
         WINDOW w1 AS (PARTITION BY o_orderstatus),
                w2 AS (w1 ORDER BY o_orderkey)
         ORDER BY k
-- @lowered
SELECT o_orderkey AS k,
           COUNT(*) OVER w2 AS c_run,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS s_roll,
           MAX(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_orderstatus)
             AS mx_p
         FROM orders WHERE o_orderkey % 17 = 0
         WINDOW w1 AS (PARTITION BY o_orderstatus),
                w2 AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
         ORDER BY k NULLS LAST
