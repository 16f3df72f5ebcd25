"""Query registry: every implemented operator (SURVEY.md §2) exposed as a
named query + its DuckDB oracle SQL.

Design: the UAV-domain tables (frames/detections/segments) derive from the
driver corpus via cross-engine SQL (fixtures.py), so the oracle recomputes
the *same* fixture and the *same* semantics in DuckDB — row-count, schema,
and value-hash checked by the driver. Queries whose semantics aren't
SQL-expressible (pixel UDFs, sketches, LSH internals) carry oracle=None →
rows-only check + pytest coverage.

Conventions for hash-stability across engines (see fixtures.py docstring):
aggregates of doubles rounded (2dp money, 6dp ratios); sums of integers
CAST to BIGINT in DuckDB (its sum() widens to HUGEINT); timestamps leave
as epoch seconds or DATE; LIMIT always paired with a unique ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from uav_streamprocessor_spark import fixtures
from uav_streamprocessor_spark.fixtures import register_uav_views, with_fixture_ctes
from uav_streamprocessor_spark.functions.geometry import with_letterbox_geometry
from uav_streamprocessor_spark.operators import (
    dedup,
    events_ops,
    relational,
    repetition,
    similarity,
    text,
    uav_core,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: QueryFn
    oracle: str | None
    notes: str = ""


_SPECS: list[QuerySpec] = []


def _register(name: str, oracle: str | None, notes: str = ""):
    # duplicate names would silently shadow each other in queries()'s dict
    # (latest wins), leaving a driver CORRECTNESS row attributed to code it
    # never ran — caught live in r7 when a new registration collided with
    # rel_scd2_history. Fail at import instead.
    if any(s.name == name for s in _SPECS):
        raise ValueError(f"duplicate query registration: {name!r}")

    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            register_uav_views(spark, sf_dir)
            return fn(spark)

        _SPECS.append(QuerySpec(name, wrapped, oracle, notes))
        return fn

    return deco


# the detections-side filters used in several oracles
# (class whitelist frame_processing.py:103, threshold :93)
_DET_FILTER = "class_name IN ('car', 'person') AND confidence >= 0.4"


# ===========================================================================
# UAV surface
# ===========================================================================

_register(
    "uav_keyframe_decimation",
    with_fixture_ctes(
        """
SELECT camera_id, frame_number, width, height, fps, source_file
FROM frames WHERE frame_number % 30 = 0
"""
    ),
    notes="F1 every-Nth filter (uav/main.py:116)",
)(lambda spark: uav_core.keyframes(spark.table("frames")).select(
    "camera_id", "frame_number", "width", "height", "fps", "source_file"))


_register(
    "uav_frame_counters",
    with_fixture_ctes(
        """
SELECT camera_id,
       CAST(count(*) AS BIGINT) AS total_frames,
       CAST(sum(CASE WHEN frame_number % 30 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS keyframes
FROM frames GROUP BY camera_id
"""
    ),
    notes="A1 counters (uav/main.py:90-91,141)",
)(lambda spark: uav_core.frame_counters(spark.table("frames")))


_register(
    "uav_letterbox_geometry",
    with_fixture_ctes(
        """
SELECT DISTINCT camera_id, width, height,
  least(CAST(640 AS DOUBLE) / width, CAST(640 AS DOUBLE) / height) AS scale,
  CAST(floor(width * least(CAST(640 AS DOUBLE) / width, CAST(640 AS DOUBLE) / height)) AS INT) AS new_w,
  CAST(floor(height * least(CAST(640 AS DOUBLE) / width, CAST(640 AS DOUBLE) / height)) AS INT) AS new_h,
  CAST(floor((640 - CAST(floor(height * least(CAST(640 AS DOUBLE) / width, CAST(640 AS DOUBLE) / height)) AS INT)) / 2) AS INT) AS pad_top,
  CAST(640 - CAST(floor(height * least(CAST(640 AS DOUBLE) / width, CAST(640 AS DOUBLE) / height)) AS INT)
       - CAST(floor((640 - CAST(floor(height * least(CAST(640 AS DOUBLE) / width, CAST(640 AS DOUBLE) / height)) AS INT)) / 2) AS INT) AS INT) AS pad_bottom,
  CAST(floor((640 - CAST(floor(width * least(CAST(640 AS DOUBLE) / width, CAST(640 AS DOUBLE) / height)) AS INT)) / 2) AS INT) AS pad_left,
  CAST(640 - CAST(floor(width * least(CAST(640 AS DOUBLE) / width, CAST(640 AS DOUBLE) / height)) AS INT)
       - CAST(floor((640 - CAST(floor(width * least(CAST(640 AS DOUBLE) / width, CAST(640 AS DOUBLE) / height)) AS INT)) / 2) AS INT) AS INT) AS pad_right
FROM frames
"""
    ),
    notes="T1 geometry shadow (uav/frame_processing.py:29-39)",
)(lambda spark: with_letterbox_geometry(spark.table("frames")).select(
    "camera_id", "width", "height", "scale", "new_w", "new_h",
    "pad_top", "pad_bottom", "pad_left", "pad_right").distinct())


_register(
    "uav_detections_filtered",
    with_fixture_ctes(
        f"""
SELECT det_id, camera_id, frame_number, class_name, class_id, confidence,
       x_min, y_min, x_max, y_max
FROM detections WHERE {_DET_FILTER}
"""
    ),
    notes="T2 relational filters (uav/frame_processing.py:93,103)",
)(lambda spark: uav_core.filter_detections(spark.table("detections")).select(
    "det_id", "camera_id", "frame_number", "class_name", "class_id",
    "confidence", "x_min", "y_min", "x_max", "y_max"))


_register(
    "uav_class_stats",
    with_fixture_ctes(
        f"""
SELECT class_name,
       CAST(count(*) AS BIGINT) AS n_detections,
       round(avg(confidence), 6) AS avg_confidence,
       round(max(confidence), 6) AS max_confidence
FROM detections WHERE {_DET_FILTER}
GROUP BY class_name
"""
    ),
    notes="flagship M1 (SURVEY.md §7)",
)(lambda spark: uav_core.class_stats(spark.table("detections")))


_register(
    "uav_frames_detections_join",
    with_fixture_ctes(
        f"""
SELECT f.camera_id, f.frame_number, f.width, f.height,
       CAST(count(*) AS BIGINT) AS n_boxes,
       round(max(d.confidence), 6) AS best_confidence
FROM frames f
JOIN detections d
  ON d.camera_id = f.camera_id AND d.frame_number = f.frame_number
WHERE f.frame_number % 30 = 0 AND d.{_DET_FILTER}
GROUP BY f.camera_id, f.frame_number, f.width, f.height
"""
    ),
    notes="equi-join form of main.py:125-134 pairing",
)(lambda spark: uav_core.frames_with_detection_stats(
    spark.table("frames"), spark.table("detections")))


_register(
    "uav_frames_without_detections",
    with_fixture_ctes(
        f"""
SELECT f.camera_id, f.frame_number, f.width, f.height
FROM frames f
WHERE f.frame_number % 30 = 0 AND NOT EXISTS (
  SELECT 1 FROM detections d
  WHERE d.camera_id = f.camera_id AND d.frame_number = f.frame_number
    AND d.{_DET_FILTER}
)
"""
    ),
    notes="anti join; zero-detection keyframes (uav/main.py:128-129)",
)(lambda spark: uav_core.keyframes_without_detections(
    spark.table("frames"), spark.table("detections")))


_register(
    "uav_frames_with_detections",
    with_fixture_ctes(
        f"""
SELECT f.camera_id, f.frame_number, f.width, f.height
FROM frames f
WHERE f.frame_number % 30 = 0 AND EXISTS (
  SELECT 1 FROM detections d
  WHERE d.camera_id = f.camera_id AND d.frame_number = f.frame_number
    AND d.{_DET_FILTER}
)
"""
    ),
    notes="semi join (EXISTS)",
)(lambda spark: uav_core.keyframes_with_detections(
    spark.table("frames"), spark.table("detections")))


_register(
    "uav_segment_stats",
    with_fixture_ctes(
        """
SELECT f.camera_id, s.segment_id,
       CAST(count(*) AS BIGINT) AS n_frames,
       min(f.frame_number) AS first_frame,
       max(f.frame_number) AS last_frame
FROM frames f
JOIN segments s
  ON s.camera_id = f.camera_id
 AND f.frame_number >= s.start_frame AND f.frame_number < s.end_frame
GROUP BY f.camera_id, s.segment_id
"""
    ),
    notes="U2 range join (uav/video_splitter.py:27-79)",
)(lambda spark: uav_core.segment_stats(
    spark.table("frames"), spark.table("segments")))


_register(
    "uav_segment_reassembly",
    with_fixture_ctes(
        """
SELECT camera_id, frame_number FROM frames
EXCEPT ALL
SELECT f.camera_id, f.frame_number
FROM frames f
JOIN segments s
  ON s.camera_id = f.camera_id
 AND f.frame_number >= s.start_frame AND f.frame_number < s.end_frame
"""
    ),
    notes="set-op lossless-split proof (empty result)",
)(lambda spark: uav_core.segment_reassembly_diff(
    spark.table("frames"), spark.table("segments")))


_register(
    "uav_detection_rank",
    with_fixture_ctes(
        f"""
SELECT camera_id, rnk, det_id, frame_number, class_name,
       round(confidence, 6) AS confidence
FROM (
  SELECT camera_id, det_id, frame_number, class_name, confidence,
         row_number() OVER (PARTITION BY camera_id
                            ORDER BY confidence DESC, det_id) AS rnk
  FROM detections WHERE {_DET_FILTER}
) WHERE rnk <= 5
"""
    ),
    notes="window rank per camera",
)(lambda spark: uav_core.detection_rank_per_camera(spark.table("detections")))


_register(
    "uav_detection_lag",
    with_fixture_ctes(
        """
SELECT camera_id, frame_number, det_id,
       round(confidence, 6) AS confidence,
       round(lag(confidence) OVER w, 6) AS prev_confidence,
       round(lead(confidence) OVER w, 6) AS next_confidence
FROM detections
WINDOW w AS (PARTITION BY camera_id ORDER BY frame_number, det_id)
"""
    ),
    notes="lag/lead analytics",
)(lambda spark: uav_core.detection_lag_lead(spark.table("detections")))


_register(
    "uav_running_counters",
    with_fixture_ctes(
        """
SELECT camera_id, frame_number,
       CAST(sum(CASE WHEN frame_number % 30 = 0 THEN 1 ELSE 0 END)
            OVER (PARTITION BY camera_id ORDER BY frame_number
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS keyframes_so_far
FROM frames
"""
    ),
    notes="running counter (uav/main.py:141)",
)(lambda spark: uav_core.running_keyframe_counter(spark.table("frames")))


_register(
    "uav_filename_order",
    with_fixture_ctes(
        """
SELECT camera_id, source_file,
       CAST(regexp_extract(source_file, '([0-9]+)', 1) AS BIGINT) AS file_order_key,
       CAST(row_number() OVER (
         PARTITION BY camera_id
         ORDER BY CAST(regexp_extract(source_file, '([0-9]+)', 1) AS BIGINT),
                  source_file) - 1 AS BIGINT) AS derived_frame_number,
       frame_number
FROM frames
"""
    ),
    notes="S1 filename-order extraction (uav/frame_reader.py:62-66)",
)(lambda spark: uav_core.filename_order(spark.table("frames")))


_register(
    "uav_fps_fallback",
    with_fixture_ctes(
        """
SELECT camera_id, frame_number, fps,
       coalesce(nullif(fps, 0.0), 25.0) AS effective_fps
FROM frames
"""
    ),
    notes="fps-or-25.0 coalescing (uav/frame_processing.py:152)",
)(lambda spark: uav_core.effective_fps(spark.table("frames")))


_register(
    "uav_metadata_fields",
    with_fixture_ctes(
        f"""
SELECT camera_id, frame_number, det_id, class_name, class_id,
       round(confidence * 10000) / 10000 AS confidence,
       x_min, y_min, x_max, y_max
FROM detections WHERE {_DET_FILTER}
"""
    ),
    notes="K2 wire metadata fields (uav/frame_processing.py:230-248); "
    "confidence rounded with the integer-scaling idiom on BOTH engines "
    "(ADVICE r10 — the tpch_q2_min_cost .xxxx5 tie class)",
)(lambda spark: uav_core.detection_metadata_fields(spark.table("detections")))


_register(
    "uav_metadata_json",
    with_fixture_ctes(
        f"""
SELECT camera_id, frame_number,
       CAST(json_object('frame_number', frame_number,
                        'detections', to_json(dets)) AS VARCHAR)
         AS metadata_json
FROM (
  SELECT camera_id, frame_number,
         list(json_object(
           'class_name', class_name,
           'class_id', class_id,
           'confidence', round(confidence * 10000) / 10000,
           'box', json_array(x_min, y_min, x_max, y_max)
         ) ORDER BY det_id) AS dets
  FROM (SELECT * FROM detections WHERE {_DET_FILTER})
  GROUP BY camera_id, frame_number
)
"""
    ),
    notes="K2 exact JSON wire format (uav/frame_processing.py:230-248): "
    "field order is pinned by construction in BOTH engines (Spark "
    "to_json emits struct-field order; DuckDB json_object emits argument "
    "order), detections ordered by det_id on both sides, and both print "
    "doubles shortest-roundtrip — verified byte-identical at sf0.001 and "
    "sf0.01 before promotion from rows-only (VERDICT r9 #6); confidence "
    "rounded with the integer-scaling idiom round(x*10000)/10000 on BOTH "
    "engines so .xxxx5 ties can't diverge (ADVICE r10)",
)(lambda spark: uav_core.detection_metadata_json(spark.table("detections")))


_register(
    "uav_top_confidence",
    with_fixture_ctes(
        f"""
SELECT det_id, camera_id, frame_number, class_name,
       round(confidence, 6) AS confidence
FROM (
  SELECT * FROM detections WHERE {_DET_FILTER}
  ORDER BY confidence DESC, det_id LIMIT 20
)
"""
    ),
    notes="global top-k (TakeOrderedAndProject)",
)(lambda spark: uav_core.top_confidence_global(spark.table("detections")))


# ===========================================================================
# Relational core (TPC-H-style)
# ===========================================================================

_register(
    "tpch_q1_pricing",
    """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)(lambda spark: relational.q1_pricing_summary(spark))


_register(
    "tpch_q3_priority",
    """
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
""",
)(lambda spark: relational.q3_shipping_priority(spark))


_register(
    "tpch_q5_region_revenue",
    """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY n_name
""",
)(lambda spark: relational.q5_local_supplier_volume(spark))


_register(
    "rel_revenue_by_region",
    """
SELECT r_name,
       round(sum(o_totalprice), 2) AS total_revenue,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)(lambda spark: relational.revenue_by_region(spark))


_register(
    "rel_top_customers",
    """
SELECT o_custkey, c_name, c_mktsegment, revenue, n_orders
FROM (
  SELECT o_custkey,
         round(sum(o_totalprice), 2) AS revenue,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
) o JOIN customer ON o_custkey = c_custkey
ORDER BY revenue DESC, o_custkey LIMIT 10
""",
)(lambda spark: relational.top_customers_by_revenue(spark))


_register(
    "rel_orders_rollup",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)(lambda spark: relational.orders_rollup(spark))


_register(
    "rel_orders_cube",
    """
SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, CAST(year(o_orderdate) AS INT))
""",
)(lambda spark: relational.orders_cube(spark))


_register(
    "rel_pivot_linestatus",
    """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
FROM lineitem GROUP BY l_returnflag
""",
)(lambda spark: relational.lineitem_pivot_linestatus(spark))


_register(
    "rel_distinct_segments",
    """
SELECT n_name,
       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
       CAST(count(*) AS BIGINT) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)(lambda spark: relational.mktsegment_distinct_stats(spark))


_register(
    "rel_approx_distinct",
    None,
    notes="HLL++ sketch — engine-specific by design; exact twin inside the "
    "same result for sanity; rel_approx_distinct_bound oracles the "
    "sketch's accuracy contract",
)(lambda spark: relational.approx_distinct_parts(spark))


_register(
    "rel_approx_distinct_bound",
    """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS within_bound
FROM lineitem GROUP BY l_returnflag
""",
    notes="oracled accuracy-contract audit for the rows-only HLL sketch "
    "(the rel_approx_percentile_bound pattern): |approx - exact| <= "
    "4*rsd*exact + 16 checked against the data per group; HLL error is "
    "deterministic for fixed data, so the bound is stable — the oracle "
    "asserts the constant-true table with the exact count as anchor",
)(lambda spark: relational.approx_distinct_error_bound(spark))


_register(
    "rel_customer_order_rank",
    """
SELECT o_custkey, rnk, o_orderkey,
       round(o_totalprice, 2) AS o_totalprice,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       prev_order_date
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
         row_number() OVER w AS rnk,
         lag(CAST(o_orderdate AS DATE)) OVER w AS prev_order_date
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
) WHERE rnk <= 3
""",
)(lambda spark: relational.customer_order_rank(spark))


_register(
    "rel_intersect_customers",
    """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
""",
)(lambda spark: relational.customers_1995_and_1996(spark))


_register(
    "rel_except_customers",
    """
SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
""",
)(lambda spark: relational.customers_1995_not_1996(spark))


_register(
    "rel_suppliers_no_lineitems",
    """
SELECT s_suppkey, s_name FROM supplier s
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s.s_suppkey)
""",
)(lambda spark: relational.suppliers_without_lineitems(spark))


_register(
    "rel_string_functions",
    """
SELECT p_partkey,
       upper(p_brand) AS brand_upper,
       substring(p_type, 1, 5) AS type_prefix,
       CAST(length(p_name) AS INT) AS name_len,
       p_brand || '/' || p_type AS brand_type
FROM part
WHERE p_type LIKE '%ECO%' OR p_name LIKE '%red%'
""",
)(lambda spark: relational.parts_like_filter(spark))


_register(
    "rel_orders_by_month",
    """
SELECT CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(quarter(o_orderdate) AS INT) AS order_quarter,
       CAST(month(o_orderdate) AS INT) AS order_month,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(avg(o_totalprice), 2) AS avg_price
FROM orders
GROUP BY 1, 2, 3
""",
)(lambda spark: relational.orders_by_month(spark))


_register(
    "rel_math_functions",
    """
SELECT l_orderkey, l_linenumber,
       abs(l_quantity - 25) AS qty_dev,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
       l_orderkey % 7 AS key_mod7,
       greatest(l_discount, l_tax) AS max_rate,
       least(l_discount, l_tax) AS min_rate,
       CAST(sign(l_discount - 0.05) AS INT) AS disc_sign
FROM lineitem
""",
)(lambda spark: relational.math_functions_showcase(spark))


_register(
    "rel_correlated_exists",
    """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c.c_custkey AND o_totalprice < 50000)
""",
)(lambda spark: relational.correlated_exists_orders(spark))


# ===========================================================================
# Events (batch twins of the streaming surface)
# ===========================================================================

_register(
    "ev_type_stats",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value,
       round(avg(value), 6) AS avg_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""",
)(lambda spark: events_ops.event_type_stats(spark))


_register(
    "ev_hourly_tumbling",
    """
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start_epoch,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
""",
)(lambda spark: events_ops.hourly_tumbling_counts(spark))


_register(
    "ev_sliding_window",
    """
SELECT window_start_epoch, CAST(count(*) AS BIGINT) AS n_events
FROM (
  SELECT unnest([
    CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT),
    CAST(floor(epoch(ts) / 1800) * 1800 - 1800 AS BIGINT)
  ]) AS window_start_epoch
  FROM events
) GROUP BY window_start_epoch
""",
)(lambda spark: events_ops.sliding_window_counts(spark))


_register(
    "ev_session_windows",
    """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM marked
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
       CAST(count(*) AS BIGINT) AS n_events
FROM sessions GROUP BY user_id, session_id
""",
    notes="session_window() batch form vs gaps-and-islands oracle",
)(lambda spark: events_ops.session_windows_per_user(spark))


_register(
    "ev_json_props",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
FROM events GROUP BY event_type
""",
)(lambda spark: events_ops.json_props_extract(spark))


_register(
    "ev_dedup_exact",
    """
SELECT user_id, event_type, event_id, round(value, 2) AS value
FROM (
  SELECT user_id, event_type, event_id, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
""",
)(lambda spark: events_ops.dedup_events_exact(spark))


_register(
    "ev_user_daily_running",
    """
SELECT user_id, CAST(ts AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(count(*)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS DATE)
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS running_events
FROM events GROUP BY user_id, CAST(ts AS DATE)
""",
)(lambda spark: events_ops.user_activity_rollup(spark))


# ===========================================================================
# Dedup / text / similarity (north-star extensions)
# ===========================================================================

_register(
    "dedup_docs_exact",
    """
SELECT md5(text) AS text_hash,
       min(doc_id) AS keeper_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY md5(text)
""",
)(lambda spark: dedup.dedup_exact(spark))


_register(
    "dedup_docs_survivors",
    """
SELECT doc_id, lang, source, n_chars
FROM (
  SELECT doc_id, lang, source, n_chars,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
""",
)(lambda spark: dedup.dedup_survivors(spark))


_register(
    "dedup_fingerprints",
    """
SELECT doc_id, md5(text) AS fingerprint,
       substring(md5(text), 1, 16) AS fingerprint16,
       lang || ':' || CAST(n_chars - n_chars % 64 AS STRING) || ':'
            || substring(md5(text), 1, 8) AS bucket_key
FROM documents
""",
)(lambda spark: dedup.fingerprint_docs(spark))



def _hash64_replay_ctes() -> str:
    """Shared DuckDB replay of the engine's 64-bit token-hash plane
    (operators/dedup._token_hashes — FNV-prime polynomial over utf-8
    bytes mod 2**64, xor-shift-33, golden-ratio mix), the foundation of
    the r13 MinHash/SimHash promotions. uint64 wraparound is emulated
    with HUGEINT arithmetic mod 2**64 at every step; bit ops run on
    UBIGINT (logical >> and xor). Tokens hash ONCE globally (utok is
    the distinct vocabulary) and join back to per-doc positions (dtok).
    Corpus contract (verified at all three SFs, r13): ASCII text,
    single-space separated, >= 3 tokens per doc — so unicode() == the
    utf-8 byte and Spark split(' ') == Python str.split(); the engine
    itself handles the general cases (pinned in tests)."""
    return """
wsplit AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
),
utok AS (SELECT DISTINCT unnest(ws) AS tok FROM wsplit),
powtab AS (
  SELECT 1 AS i, CAST(1 AS HUGEINT) AS pw
  UNION ALL
  SELECT i + 1, (pw * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)
  FROM powtab WHERE i < (SELECT max(length(tok)) FROM utok)
),
th AS (
  -- (mx * MIX) mod 2^64 via 32-bit split: mx and MIX are both near
  -- 2^64, so the direct INT128 product overflows; mx = xh*2^32 + xl
  -- gives mx*MIX mod 2^64 = (xl*MIX + ((xh*MIX) mod 2^32)*2^32) mod
  -- 2^64 with every intermediate < 2^97
  SELECT m.tok,
         CAST((
           CAST(m.mx & 4294967295 AS HUGEINT)
             * CAST('11400714819323198485' AS HUGEINT)
           + ((CAST(m.mx >> 32 AS HUGEINT)
               * CAST('11400714819323198485' AS HUGEINT)) % 4294967296)
             * 4294967296
         ) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS th
  FROM (
    SELECT tok, xor(h0, h0 >> 33) AS mx FROM (
      SELECT u.tok,
             CAST(sum(CAST(unicode(substr(u.tok, CAST(c.c AS INT), 1))
                           AS HUGEINT) * p.pw) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS h0
      FROM utok u,
           unnest(generate_series(1, length(u.tok))) AS c(c)
      JOIN powtab p ON p.i = c.c
      GROUP BY u.tok
    ) h0t
  ) m
),
tokd AS (
  SELECT w.doc_id, i.i AS tpos, w.ws[CAST(i.i AS INT)] AS tok
  FROM wsplit w, unnest(generate_series(1, len(w.ws))) AS i(i)
),
dtok AS (SELECT t.doc_id, t.tpos, h.th FROM tokd t JOIN th h USING (tok))"""


def _minhash_pairs_ctes() -> str:
    """MinHash LSH candidate replay on top of _hash64_replay_ctes:
    word-3-gram shingle hashes (rolling polynomial, distinct per doc),
    64 permutations (a*h + b wraps at 2**64 BEFORE the Mersenne mod —
    matching numpy's uint64 arithmetic exactly), 16 bands of 4. The
    oracle buckets on the raw 4-value band tuple where the engine
    buckets on xxhash64 of it — identical partitions up to an xxhash64
    collision (~1e-15 for this corpus; a collision would only ADD an
    engine pair)."""
    return """
sh AS (
  SELECT DISTINCT a.doc_id,
         CAST(((CAST(((CAST(a.th AS HUGEINT) * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)
                      + b2.th) % CAST('18446744073709551616' AS HUGEINT) AS HUGEINT) * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)
               + c3.th) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS g
  FROM dtok a
  JOIN dtok b2 ON b2.doc_id = a.doc_id AND b2.tpos = a.tpos + 1
  JOIN dtok c3 ON c3.doc_id = a.doc_id AND c3.tpos = a.tpos + 2
),
perml(k, pa, pb) AS (VALUES
  (0, CAST('2297359619001564596' AS HUGEINT), CAST('570641018389960891' AS HUGEINT)),
  (1, CAST('1396682528897996047' AS HUGEINT), CAST('787603798186516972' AS HUGEINT)),
  (2, CAST('1973689801170867272' AS HUGEINT), CAST('293750097594324124' AS HUGEINT)),
  (3, CAST('1819927849474927637' AS HUGEINT), CAST('962864383515356972' AS HUGEINT)),
  (4, CAST('572192888165898362' AS HUGEINT), CAST('1375216642409152344' AS HUGEINT)),
  (5, CAST('571748048327668951' AS HUGEINT), CAST('2063949654057552392' AS HUGEINT)),
  (6, CAST('1071453510346823115' AS HUGEINT), CAST('410343612402300032' AS HUGEINT)),
  (7, CAST('2143071682933157237' AS HUGEINT), CAST('1359814319648410247' AS HUGEINT)),
  (8, CAST('1865242737500154728' AS HUGEINT), CAST('101865178233748542' AS HUGEINT)),
  (9, CAST('1532418594269339779' AS HUGEINT), CAST('1207550233880778226' AS HUGEINT)),
  (10, CAST('379716980844854581' AS HUGEINT), CAST('1510001446519210375' AS HUGEINT)),
  (11, CAST('1750777661071092056' AS HUGEINT), CAST('1918593514066211234' AS HUGEINT)),
  (12, CAST('1520798217888136606' AS HUGEINT), CAST('392368560994791802' AS HUGEINT)),
  (13, CAST('1611122243678701954' AS HUGEINT), CAST('1365882634414198249' AS HUGEINT)),
  (14, CAST('1048235628103308220' AS HUGEINT), CAST('2000839474307464185' AS HUGEINT)),
  (15, CAST('1077373049702139041' AS HUGEINT), CAST('2137406799659846683' AS HUGEINT)),
  (16, CAST('1000592739665268026' AS HUGEINT), CAST('2086389863579132104' AS HUGEINT)),
  (17, CAST('456675647751657725' AS HUGEINT), CAST('2274448960578859787' AS HUGEINT)),
  (18, CAST('1050450229337746265' AS HUGEINT), CAST('1492305152117099552' AS HUGEINT)),
  (19, CAST('760543396461257179' AS HUGEINT), CAST('1172444636525752822' AS HUGEINT)),
  (20, CAST('2063321781277379071' AS HUGEINT), CAST('1124925287146532413' AS HUGEINT)),
  (21, CAST('267364570529679360' AS HUGEINT), CAST('1386887510159385380' AS HUGEINT)),
  (22, CAST('777431531920034492' AS HUGEINT), CAST('1929643330193279659' AS HUGEINT)),
  (23, CAST('2146497176616232719' AS HUGEINT), CAST('231644453789772501' AS HUGEINT)),
  (24, CAST('1495477363401685950' AS HUGEINT), CAST('225285373686556194' AS HUGEINT)),
  (25, CAST('648881935158774718' AS HUGEINT), CAST('1793298793622896354' AS HUGEINT)),
  (26, CAST('1377488174878099308' AS HUGEINT), CAST('2206124335314378670' AS HUGEINT)),
  (27, CAST('262579006026876148' AS HUGEINT), CAST('1627828948548348546' AS HUGEINT)),
  (28, CAST('1704747971477620217' AS HUGEINT), CAST('198948935564477444' AS HUGEINT)),
  (29, CAST('856858769658023397' AS HUGEINT), CAST('1130364857072845302' AS HUGEINT)),
  (30, CAST('1983852346201383559' AS HUGEINT), CAST('386776297324261773' AS HUGEINT)),
  (31, CAST('839771884757445449' AS HUGEINT), CAST('2191391983603931930' AS HUGEINT)),
  (32, CAST('1199990111390225682' AS HUGEINT), CAST('419346625420198094' AS HUGEINT)),
  (33, CAST('1362947483897176665' AS HUGEINT), CAST('969210764397336409' AS HUGEINT)),
  (34, CAST('1671865959972055054' AS HUGEINT), CAST('468900105785203579' AS HUGEINT)),
  (35, CAST('1077240956986238970' AS HUGEINT), CAST('1990245566174715570' AS HUGEINT)),
  (36, CAST('1007446255075745114' AS HUGEINT), CAST('579766154391765855' AS HUGEINT)),
  (37, CAST('1801732545371167618' AS HUGEINT), CAST('210484898835848432' AS HUGEINT)),
  (38, CAST('1092656530294298716' AS HUGEINT), CAST('1187158319135118332' AS HUGEINT)),
  (39, CAST('1201851346935503804' AS HUGEINT), CAST('158101386990278531' AS HUGEINT)),
  (40, CAST('2251208029941317036' AS HUGEINT), CAST('600745515900680676' AS HUGEINT)),
  (41, CAST('2216872713715991304' AS HUGEINT), CAST('2292786955474901222' AS HUGEINT)),
  (42, CAST('634356285132873763' AS HUGEINT), CAST('652699705481037454' AS HUGEINT)),
  (43, CAST('633099677421309009' AS HUGEINT), CAST('102400447934616092' AS HUGEINT)),
  (44, CAST('161962062168655410' AS HUGEINT), CAST('1914738081494129164' AS HUGEINT)),
  (45, CAST('692163906031803780' AS HUGEINT), CAST('1420028748837633862' AS HUGEINT)),
  (46, CAST('1138368374822601726' AS HUGEINT), CAST('733284897621110002' AS HUGEINT)),
  (47, CAST('370189644521515574' AS HUGEINT), CAST('668164788960253723' AS HUGEINT)),
  (48, CAST('861652531725782788' AS HUGEINT), CAST('1008993515362167465' AS HUGEINT)),
  (49, CAST('1104119908775765469' AS HUGEINT), CAST('1072131779469420093' AS HUGEINT)),
  (50, CAST('1744778438383761810' AS HUGEINT), CAST('155022034638842868' AS HUGEINT)),
  (51, CAST('463618807884355116' AS HUGEINT), CAST('2240552382924550939' AS HUGEINT)),
  (52, CAST('1189795419742834890' AS HUGEINT), CAST('990075153342510699' AS HUGEINT)),
  (53, CAST('365750060173591524' AS HUGEINT), CAST('1135767110662776147' AS HUGEINT)),
  (54, CAST('1805935812952358751' AS HUGEINT), CAST('323906358285871037' AS HUGEINT)),
  (55, CAST('864677038069918991' AS HUGEINT), CAST('725736267669063295' AS HUGEINT)),
  (56, CAST('1632398491907562958' AS HUGEINT), CAST('1059583932984535030' AS HUGEINT)),
  (57, CAST('1309402721808639228' AS HUGEINT), CAST('389065880395732440' AS HUGEINT)),
  (58, CAST('834296198785359550' AS HUGEINT), CAST('1254442603959937213' AS HUGEINT)),
  (59, CAST('1389599250197995221' AS HUGEINT), CAST('2030099650348479872' AS HUGEINT)),
  (60, CAST('252301427447193325' AS HUGEINT), CAST('1898818616440063258' AS HUGEINT)),
  (61, CAST('393820126512235375' AS HUGEINT), CAST('961219165520271992' AS HUGEINT)),
  (62, CAST('1452450688103961368' AS HUGEINT), CAST('1254651014867448780' AS HUGEINT)),
  (63, CAST('1969251275389991129' AS HUGEINT), CAST('2042618724242302210' AS HUGEINT))
),
ug AS (SELECT DISTINCT g FROM sh),
pv AS (
  -- permute each DISTINCT shingle hash once (~10x fewer HUGEINT mod
  -- chains than per (doc, shingle) at sf0.1: 27k distinct vs 260k
  -- rows), then the per-doc mins run on cheap BIGINTs
  SELECT u.g, p.k,
         CAST(((CAST(u.g AS HUGEINT) * p.pa) % CAST('18446744073709551616' AS HUGEINT) + p.pb)
              % CAST('18446744073709551616' AS HUGEINT) % 2305843009213693951 AS BIGINT) AS v
  FROM ug u, perml p
),
sigs AS (
  SELECT s.doc_id, v.k, min(v.v) AS sig
  FROM sh s JOIN pv v ON v.g = s.g
  GROUP BY s.doc_id, v.k
),
bandkey AS (
  SELECT doc_id, CAST(k // 4 AS INT) AS band,
         string_agg(CAST(sig AS VARCHAR), ',' ORDER BY k) AS bkey
  FROM sigs GROUP BY doc_id, k // 4
),
mh_pairs AS (
  SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
  FROM bandkey x
  JOIN bandkey y ON y.band = x.band AND y.bkey = x.bkey
                AND x.doc_id < y.doc_id
)"""


def _simhash_ctes() -> str:
    """SimHash replay on top of _hash64_replay_ctes: every token
    occurrence votes +-1 per bit of its 64-bit hash; sig bit = vote sum
    > 0; 4 bands of 16 bits assembled arithmetically (no packed-int64
    sign games in SQL — band values and hamming come straight from the
    bits table)."""
    return """
votes AS (
  SELECT d.doc_id, s.s AS bit_pos,
         sum(CASE WHEN ((d.th >> CAST(s.s AS INT)) & 1) = 1
                  THEN 1 ELSE -1 END) AS acc
  FROM dtok d, unnest(generate_series(0, 63)) AS s(s)
  GROUP BY d.doc_id, s.s
),
bits AS (
  SELECT doc_id, bit_pos, CASE WHEN acc > 0 THEN 1 ELSE 0 END AS bit
  FROM votes
),
sbands AS (
  SELECT doc_id, CAST(bit_pos // 16 AS INT) AS band,
         CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(bit_pos % 16 AS INT)))
              AS BIGINT) AS band_val
  FROM bits GROUP BY doc_id, bit_pos // 16
)"""


_register(
    "dedup_minhash_candidates",
    f"""
WITH RECURSIVE
{_hash64_replay_ctes()},
{_minhash_pairs_ctes()}
SELECT doc_id_a, doc_id_b FROM mh_pairs
""",
    notes="MinHash+LSH candidate pairs. PROMOTED rows-only -> fully "
    "oracled (r13): DuckDB replays the whole signature plane — "
    "polynomial token hashes (uint64 wraparound via HUGEINT mod 2^64), "
    "xor-shift mix, rolling 3-gram shingles, 64 (a*h+b mod 2^64) mod "
    "(2^61-1) permutations with the RandomState(42) constants embedded "
    "as literals, 16x4 banding — and buckets on the raw band tuple "
    "(identical to the engine's xxhash64 bucket key up to a ~1e-15 "
    "collision); the banding-partition law stays separately oracled by "
    "dedup_minhash_band_partition",
)(lambda spark: dedup.minhash_candidates(spark))


_register(
    "dedup_minhash_band_partition",
    """
SELECT CAST(band AS INT) AS band,
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_sigs
FROM (SELECT unnest(range(16)) AS band)
""",
    notes="oracled conservation shadow for the rows-only LSH candidates "
    "(VERDICT r10 #5): every doc emits exactly one non-null (band, "
    "band_sig) row per band, bands 0..15 — the banding partition itself "
    "is deterministic integers even though signature values aren't "
    "oracle-portable",
)(lambda spark: dedup.minhash_band_partition(spark))


_register(
    "dedup_minhash_neardups",
    f"""
WITH RECURSIVE
{_hash64_replay_ctes()},
{_minhash_pairs_ctes()},
grams AS (
  SELECT DISTINCT w.doc_id, w.ws[CAST(i.i AS INT)] || ' '
         || w.ws[CAST(i.i AS INT) + 1] || ' '
         || w.ws[CAST(i.i AS INT) + 2] AS gram
  FROM wsplit w, unnest(generate_series(1, len(w.ws) - 2)) AS i(i)
),
nsets AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY doc_id),
isect AS (
  SELECT p.doc_id_a, p.doc_id_b, CAST(count(*) AS BIGINT) AS i
  FROM mh_pairs p
  JOIN grams ga ON ga.doc_id = p.doc_id_a
  JOIN grams gb ON gb.doc_id = p.doc_id_b AND gb.gram = ga.gram
  GROUP BY p.doc_id_a, p.doc_id_b
)
SELECT doc_id_a, doc_id_b, jaccard FROM (
  SELECT p.doc_id_a, p.doc_id_b,
         round((CAST(coalesce(i.i, 0) AS DOUBLE)
                / (na.n + nb.n - coalesce(i.i, 0))) * 1e6) / 1e6 AS jaccard
  FROM mh_pairs p
  LEFT JOIN isect i ON i.doc_id_a = p.doc_id_a AND i.doc_id_b = p.doc_id_b
  JOIN nsets na ON na.doc_id = p.doc_id_a
  JOIN nsets nb ON nb.doc_id = p.doc_id_b
) WHERE jaccard >= 0.7
""",
    notes="LSH candidates + exact word-3-gram Jaccard verify (threshold "
    "0.7). PROMOTED rows-only -> fully oracled (r13): the candidate set "
    "replays via the shared signature-plane CTEs and the verify "
    "recomputes Jaccard over distinct STRING 3-grams (the same space "
    "the hashed shingles sample), with the integer-scaling snap "
    "round((i/u)*1e6)/1e6 on both engines (int/int quotients like "
    "1/640 land exactly on decimal half-boundaries where round(x,6) "
    "diverges)",
)(lambda spark: dedup.minhash_near_duplicates(spark))


_register(
    "dedup_simhash_buckets",
    f"""
WITH RECURSIVE
{_hash64_replay_ctes()},
{_simhash_ctes()}
SELECT band, band_val, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keeper
FROM sbands GROUP BY band, band_val HAVING count(*) > 1
""",
    notes="SimHash banded (4x16-bit) candidate buckets with >1 doc. "
    "PROMOTED rows-only -> fully oracled (r13): DuckDB replays the "
    "token-hash bit votes (every occurrence votes +-1 per bit, sig bit "
    "= sum > 0) and assembles band values arithmetically, so bucket "
    "membership, counts, and keepers match exactly; the banding law "
    "stays separately oracled by dedup_simhash_band_partition",
)(lambda spark: dedup.simhash_buckets(spark))


_register(
    "dedup_simhash_band_partition",
    """
SELECT CAST(band AS INT) AS band,
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_in_range
FROM (SELECT unnest(range(4)) AS band)
""",
    notes="oracled conservation shadow for the rows-only SimHash buckets "
    "(the dedup_minhash_band_partition pattern): one row per doc per "
    "band, bands 0..3, every band value inside the 16-bit mask — "
    "catches shift/mask off-by-ones and sign-extension leaks",
)(lambda spark: dedup.simhash_band_partition(spark))


_register(
    "dedup_simhash_neardups",
    f"""
WITH RECURSIVE
{_hash64_replay_ctes()},
{_simhash_ctes()},
sh_pairs AS (
  SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
  FROM sbands x
  JOIN sbands y ON y.band = x.band AND y.band_val = x.band_val
               AND x.doc_id < y.doc_id
)
SELECT doc_id_a, doc_id_b, hamming FROM (
  SELECT p.doc_id_a, p.doc_id_b,
         CAST(sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS INT)
           AS hamming
  FROM sh_pairs p
  JOIN bits ba ON ba.doc_id = p.doc_id_a
  JOIN bits bb ON bb.doc_id = p.doc_id_b AND bb.bit_pos = ba.bit_pos
  GROUP BY p.doc_id_a, p.doc_id_b
) WHERE hamming <= 3
""",
    notes="SimHash near-dups: banded candidates + hamming<=3 verify. "
    "PROMOTED rows-only -> fully oracled (r13): candidates replay from "
    "the banded bit votes and hamming is the bit-table disagreement "
    "count (identical to the engine's bit_count(a XOR b) on the packed "
    "int64); recall 1.0 vs brute force stays pinned in tests",
)(lambda spark: dedup.simhash_near_duplicates(spark))


_register(
    "dedup_ngram_jaccard",
    """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(ws) - 2),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
  FROM t
),
pairs AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         round(len(list_intersect(a.grams, b.grams)) * 1.0
               / len(list_distinct(list_concat(a.grams, b.grams))), 6)
           AS jaccard3
  FROM g a JOIN g b
    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5
)
SELECT doc_id_a, doc_id_b, jaccard3 FROM pairs WHERE jaccard3 > 0
""",
    notes="word-3-gram Jaccard on bounded candidate pairs (array "
    "built-ins). Oracled in r5: DuckDB list_intersect/list_distinct "
    "reproduce the set arithmetic (previously rows-only)",
)(lambda spark: dedup.ngram_jaccard_pairs(spark))


_register(
    "text_token_stats",
    """
SELECT doc_id, lang,
       CAST(length(text) AS INT) AS n_chars_actual,
       CAST((length(text) - length(replace(text, ' ', ''))) / 1 + 1 AS BIGINT)
         AS n_tokens,
       round(length(text) /
             CAST((length(text) - length(replace(text, ' ', ''))) / 1 + 1 AS BIGINT),
             6) AS avg_token_len
FROM documents
""",
)(lambda spark: text.token_stats(spark))


_register(
    "text_quality_scores",
    """
SELECT doc_id, lang,
  round((
      (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5
    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' a ', ''))) / 3
    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' of ', ''))) / 4
    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ''))) / 5
  ) / CAST((length(text) - length(replace(text, ' ', ''))) / 1 + 1 AS DOUBLE), 6)
    AS stopword_ratio,
  round(length(text) / CAST((length(text) - length(replace(text, ' ', ''))) / 1 + 1 AS DOUBLE), 6)
    AS mean_word_len,
  CASE WHEN length(text) >= 200 THEN 1.0
       WHEN length(text) >= 50 THEN 0.5 ELSE 0.0 END AS length_score
FROM documents
""",
)(lambda spark: text.quality_scores(spark))


_register(
    "text_lang_confusion",
    """
WITH scored AS (
  SELECT lang AS actual_lang,
    CASE
      WHEN (length(lower(text)) - length(replace(lower(text), 'z', ''))) / CAST(length(lower(text)) AS DOUBLE) > 0.01 THEN 'zh'
      WHEN (length(lower(text)) - length(replace(lower(text), 'q', ''))) / CAST(length(lower(text)) AS DOUBLE) > 0.01 THEN 'fr'
      WHEN (length(lower(text)) - length(replace(lower(text), 'e', ''))) / CAST(length(lower(text)) AS DOUBLE) > 0.09 THEN 'en'
      ELSE 'other' END AS predicted_lang
  FROM documents
)
SELECT actual_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM scored GROUP BY actual_lang, predicted_lang
""",
)(lambda spark: text.language_id_heuristic(spark))


_register(
    "text_word_counts",
    """
SELECT word, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word ORDER BY n DESC, word LIMIT 20
""",
)(lambda spark: text.word_counts(spark))


_register(
    "text_tfidf_top_terms",
    """
WITH terms AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
),
t AS (SELECT doc_id, word, count(*) AS tf FROM terms WHERE word <> '' GROUP BY 1, 2),
d AS (SELECT word, count(DISTINCT doc_id) AS df FROM terms WHERE word <> '' GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT t.word, round(t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0)), 6) AS tfidf
  FROM t JOIN d ON t.word = d.word CROSS JOIN n
)
SELECT word, round(max(tfidf), 6) AS best_tfidf
FROM scored GROUP BY word
ORDER BY best_tfidf DESC, word LIMIT 30
""",
)(lambda spark: text.tf_idf_top_terms(spark))


_register(
    "text_stats_by_lang_source",
    """
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       round(avg(n_chars), 6) AS avg_chars
FROM documents GROUP BY lang, source
""",
)(lambda spark: text.doc_stats_by_lang_source(spark))


_register(
    "emb_knn_bruteforce",
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5
),
el AS (
  SELECT q.query_id, e.vec_id, e.label,
         CAST(unnest(q.qvec) AS DOUBLE) AS qx,
         CAST(unnest(e.embedding) AS DOUBLE) AS ex
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
),
sims AS (
  SELECT query_id, vec_id, label,
         round(sum(qx * ex) / (sqrt(sum(qx * qx)) * sqrt(sum(ex * ex))), 6)
           AS cosine
  FROM el GROUP BY query_id, vec_id, label
)
SELECT query_id, vec_id, label, cosine, CAST(rnk AS INT) AS rnk
FROM (
  SELECT query_id, vec_id, label, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rnk
  FROM sims
) WHERE rnk <= 5
""",
    notes="brute-force cosine top-k; oracle recomputes via zip-unnest",
)(lambda spark: similarity.knn_bruteforce(spark))


_register(
    "emb_label_centroids",
    """
WITH el AS (
  SELECT label, vec_id,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS (
  SELECT label, pos, avg(v) AS c, count(*) AS n FROM el GROUP BY label, pos
)
SELECT label,
       CAST(min(n) AS BIGINT) AS n_vectors,
       round(sqrt(sum(c * c)), 6) AS centroid_norm,
       round(sum(CASE WHEN pos = 0 THEN c ELSE 0.0 END), 6) AS centroid_c0
FROM cent GROUP BY label
""",
)(lambda spark: similarity.label_centroid_stats(spark))


_register(
    "emb_norm_stats",
    """
WITH norms AS (
  SELECT label, vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS norm
  FROM (SELECT label, vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY label, vec_id
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(avg(norm), 6) AS avg_norm,
       round(min(norm), 6) AS min_norm,
       round(max(norm), 6) AS max_norm
FROM norms GROUP BY label
""",
)(lambda spark: similarity.embedding_norm_stats(spark))


_register(
    "dedup_embedding_cosine",
    """
WITH el AS (
  SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
         CAST(unnest(a.embedding) AS DOUBLE) AS xa,
         CAST(unnest(b.embedding) AS DOUBLE) AS xb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
),
sims AS (
  SELECT vec_id_a, vec_id_b,
         round(sum(xa * xb) / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb))), 6)
           AS cosine
  FROM el GROUP BY vec_id_a, vec_id_b
)
SELECT vec_id_a, vec_id_b, cosine FROM sims WHERE cosine >= 0.4
""",
    notes="embedding-cosine near-dup pairs (exact baseline; scale path = "
    "hyperplane-LSH buckets). Threshold corpus-calibrated to 0.4",
)(lambda spark: similarity.cosine_near_duplicates(spark))


_register(
    "emb_ann_lsh",
    similarity.ann_lsh_oracle_sql(),
    notes="random-hyperplane LSH ANN, PROMOTED rows-only → fully oracled "
    "(VERDICT r10 #5): bucket codes replay bit-exactly in DuckDB because "
    "bucket_code_col folds dot products sequentially (see "
    "emb_lsh_bucket_assignment), the multi-probe is integer "
    "bit_count(xor), and the exact-cosine re-rank reuses the "
    "emb_knn_bruteforce oracle form; recall vs brute force additionally "
    "asserted in tests",
)(lambda spark: similarity.ann_lsh_topk(spark))


_register(
    "emb_lsh_bucket_assignment",
    similarity.lsh_bucket_oracle_sql(),
    notes="oracled bucket-code shadow for the rows-only ANN (VERDICT r10 "
    "#5): bucket_code_col folds the hyperplane dot products sequentially "
    "in doubles, so an explicit left-associated SQL sum over the same "
    "shortest-roundtrip plane literals reproduces the codes bit-exactly "
    "(generated SQL, the BPE-CTE precedent)",
)(lambda spark: similarity.lsh_bucket_assignment(spark))


_register(
    "text_bm25_topk",
    """
WITH terms AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM terms WHERE term <> '' GROUP BY 1, 2
),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
corpus AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
),
q AS (
  SELECT term, df FROM df WHERE length(term) >= 5
  ORDER BY df DESC, term LIMIT 5
),
scored AS (
  SELECT q.term, tf.doc_id, tf.tf, dl.dl,
         round(ln((c.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / c.avgdl)),
               6) AS bm25
  FROM tf JOIN q USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus c
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY term ORDER BY bm25 DESC, doc_id)
           AS rnk
  FROM scored
)
SELECT term, doc_id, tf, dl, bm25, rnk FROM ranked WHERE rnk <= 10
ORDER BY term, rnk
""",
    notes="Okapi BM25 top-k retrieval; query terms corpus-derived "
    "(top-df terms len>=5) so the oracle shares the query set",
)(lambda spark: text.bm25_topk(spark))


_register(
    "text_char_entropy",
    """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
cnt AS (
  SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c FROM chars GROUP BY 1, 2
),
tot AS (SELECT doc_id, sum(c) AS n FROM cnt GROUP BY 1),
ent AS (
  SELECT cnt.doc_id, round(-sum((c / n) * log2(c / n)), 6) AS char_entropy
  FROM cnt JOIN tot USING (doc_id) GROUP BY cnt.doc_id
)
SELECT d.doc_id, d.lang, d.n_chars, e.char_entropy,
       CAST(e.char_entropy < 3.8 AS INT) AS low_entropy
FROM documents d JOIN ent e USING (doc_id)
""",
    notes="per-doc character Shannon entropy, zero-shuffle HOF plan "
    "(oracle uses the equivalent explode+agg formulation)",
)(lambda spark: text.char_entropy_gate(spark))


_register(
    "text_bpe_pairs",
    """
WITH words AS (
  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
),
w2 AS (SELECT string_split(word, '') AS l FROM words WHERE length(word) >= 2),
pairs AS (
  SELECT p[1] || p[2] AS pair
  FROM w2, unnest(list_zip(l[1:len(l) - 1], l[2:])) AS u(p)
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 20
""",
    notes="BPE merge-step pair counting (Sennrich 1508.07909); in-row "
    "zip_with pair build, alphabet^2-bounded reduce",
)(lambda spark: text.bpe_pair_counts(spark))


_register(
    "rel_scd2_snapshot",
    """
WITH obs AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
         lag(o_orderpriority) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS prev_p
  FROM orders
), changes AS (
  SELECT * FROM obs WHERE prev_p IS NULL OR prev_p <> o_orderpriority
), hist AS (
  SELECT o_custkey, o_orderpriority AS priority,
         o_orderdate AS effective_from,
         lead(o_orderdate) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS effective_to
  FROM changes
)
SELECT o_custkey, priority, effective_from, effective_to
FROM hist
WHERE effective_from <= DATE '1997-06-01'
  AND (effective_to IS NULL OR effective_to > DATE '1997-06-01')
""",
    notes="point-in-time SCD2 reconstruction (AS OF date): half-open "
    "validity filter over the rel_scd2_history build",
)(lambda spark: relational.scd2_snapshot(spark))


_register(
    "text_weighted_sample",
    """
WITH keyed AS (
  SELECT lang, doc_id, n_chars,
         round(ln((CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT) + 1.0)
                  / (4294967298.0)) / n_chars, 6) AS es_key
  FROM documents
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id)
           AS rnk
  FROM keyed
)
SELECT lang, doc_id, n_chars, es_key, rnk FROM ranked WHERE rnk <= 10
ORDER BY lang, rnk
""",
    notes="Efraimidis-Spirakis weighted sampling w/o replacement, "
    "inclusion prob ~ n_chars; content-hash uniform draw so the sample "
    "is deterministic and engine-portable",
)(lambda spark: sampling.weighted_sample_topk(spark))


_register(
    "dedup_pagerank_centrality",
    """
WITH RECURSIVE keys AS (
  SELECT doc_id, 'p:' || md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS key
  FROM documents
  UNION ALL
  SELECT doc_id, 'm:' || md5(array_to_string(string_split(text, ' ')[3:8], ' ')) AS key
  FROM documents
), e0 AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM keys x JOIN keys y USING (key)
  WHERE x.doc_id < y.doc_id
), e AS (
  SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b AS u, a AS v FROM e0
), nodes AS (SELECT DISTINCT u AS node FROM e),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT u AS node, count(*) AS outdeg FROM e GROUP BY u),
state AS (
  SELECT node, 0 AS it, round(1e9 * (1.0 / (SELECT n FROM nn))) / 1e9 AS rank
  FROM nodes
  UNION ALL
  SELECT e.v AS node, s.it + 1,
         round(1e9 * ((1.0 - 0.85) / (SELECT n FROM nn)
                      + 0.85 * sum(s.rank / d.outdeg))) / 1e9
  FROM state s
  JOIN e ON e.u = s.node
  JOIN deg d ON d.node = s.node
  WHERE s.it < 10
  GROUP BY e.v, s.it
)
SELECT CAST(node AS BIGINT) AS doc_id, rank
FROM state WHERE it = 10
ORDER BY rank DESC, doc_id LIMIT 50
""",
    notes="power-iteration PageRank over the blocking near-dup graph "
    "(template-hub removal priority); fixed 10 rounds. PROMOTED "
    "rows-only -> fully oracled (r13, the coreness recursive-replay + "
    "kcenter progressive-rounding patterns combined): both engines snap "
    "every round's ranks (and the 1/N init) to the 1e-9 grid with "
    "round(r*1e9)/1e9, so per-round summation-order drift (~1e-16) can "
    "never reach the 5e-10 rounding boundary and the DuckDB recursive "
    "CTE replays the whole 10-round trace bit-for-bit; output IS the "
    "round-10 quantized rank (no second rounding). exact-vs-numpy "
    "pinned in test_graph.py; the 2-round shadow "
    "dedup_pagerank_contraction keeps signing the unquantized plumbing",
)(lambda spark: dedup.pagerank_centrality(spark))


_register(
    "dedup_pagerank_contraction",
    """
WITH keys AS (
  SELECT doc_id, 'p:' || md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS key
  FROM documents
  UNION ALL
  SELECT doc_id, 'm:' || md5(array_to_string(string_split(text, ' ')[3:8], ' ')) AS key
  FROM documents
), e0 AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM keys x JOIN keys y USING (key)
  WHERE x.doc_id < y.doc_id
), e AS (
  SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b AS u, a AS v FROM e0
), nodes AS (SELECT DISTINCT u AS node FROM e),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT u AS node, count(*) AS outdeg FROM e GROUP BY u),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
r1 AS (
  SELECT e.v AS node,
         (1.0 - 0.85) / (SELECT n FROM nn)
           + 0.85 * sum(r.rank / deg.outdeg) AS rank
  FROM e JOIN r0 r ON r.node = e.u JOIN deg ON deg.node = e.u
  GROUP BY e.v
),
r2 AS (
  SELECT e.v AS node,
         (1.0 - 0.85) / (SELECT n FROM nn)
           + 0.85 * sum(r.rank / deg.outdeg) AS rank
  FROM e JOIN r1 r ON r.node = e.u JOIN deg ON deg.node = e.u
  GROUP BY e.v
)
SELECT node AS doc_id, round(rank, 6) AS rank FROM r2 ORDER BY doc_id
""",
    notes="2-round PageRank over the blocking near-dup graph, all nodes "
    "at 6dp — the oracled contraction shadow of the rows-only 10-round "
    "query (same proof pattern as emb_pca_trace_identity): the unrolled "
    "SQL twin signs one full join+agg+damping round composed twice, and "
    "2 rounds of float sums sit ~7 orders of magnitude inside the 6dp "
    "rounding boundary (the symmetric graph makes dangling mass "
    "identically zero on both sides)",
)(lambda spark: dedup.pagerank_contraction(spark))


_register(
    "ev_attribution_credit",
    """
WITH touches AS (
  SELECT user_id AS t_user, event_type AS touch_type, ts AS t_ts,
         event_id AS t_id
  FROM events WHERE event_type IN ('view', 'click')
), purchases AS (
  SELECT user_id AS p_user, ts AS p_ts, event_id AS p_id
  FROM events WHERE event_type = 'purchase'
), pairs AS (
  SELECT touch_type, t_ts, t_id, p_id
  FROM touches JOIN purchases
    ON t_user = p_user
   AND t_ts < p_ts
   AND t_ts >= p_ts - INTERVAL 7 DAY
), ranked AS (
  SELECT touch_type,
         1.0 / count(*) OVER (PARTITION BY p_id) AS linear_share,
         CASE WHEN row_number() OVER (
           PARTITION BY p_id ORDER BY t_ts, t_id) = 1 THEN 1 ELSE 0
         END AS is_first,
         CASE WHEN row_number() OVER (
           PARTITION BY p_id ORDER BY t_ts DESC, t_id DESC) = 1 THEN 1 ELSE 0
         END AS is_last
  FROM pairs
)
SELECT touch_type,
       CAST(count(*) AS BIGINT) AS n_touches,
       round(sum(linear_share), 6) AS linear_credit,
       CAST(sum(is_first) AS BIGINT) AS n_first_touch,
       CAST(sum(is_last) AS BIGINT) AS n_last_touch
FROM ranked GROUP BY touch_type ORDER BY touch_type
""",
    notes="multi-touch attribution (linear/first/last in one pass): "
    "user-keyed interval join, per-purchase windows",
)(lambda spark: events_ops.attribution_credit(spark))


_register(
    "ev_markov_transitions",
    """
WITH seq AS (
  SELECT user_id, event_type AS next_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
), margin AS (
  SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_total FROM pairs GROUP BY 1
)
SELECT p.prev_type, p.next_type, p.n, round(p.n * 1.0 / m.row_total, 6) AS p
FROM pairs p JOIN margin m USING (prev_type)
ORDER BY p.prev_type, p.next_type
""",
    notes="first-order Markov transition matrix over per-user event "
    "sequences: one lag window, map-side-combined pair counts, "
    "broadcast margin",
)(lambda spark: events_ops.markov_transitions(spark))


_register(
    "text_hybrid_retrieval",
    """
WITH terms AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM terms WHERE term <> '' GROUP BY 1, 2
),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
corpus AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
),
q AS (
  SELECT term, df FROM df WHERE length(term) >= 5
  ORDER BY df DESC, term LIMIT 5
),
scored AS (
  SELECT q.term, tf.doc_id, tf.tf, dl.dl,
         round(ln((c.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / c.avgdl)),
               6) AS bm25
  FROM tf JOIN q USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus c
),
cands AS (
  SELECT * FROM (
    SELECT term, doc_id, bm25,
           row_number() OVER (PARTITION BY term ORDER BY bm25 DESC, doc_id)
             AS rnk
    FROM scored
  ) WHERE rnk <= 20
),
maxb AS (SELECT term, max(bm25) AS max_bm25 FROM cands GROUP BY 1),
qv AS (SELECT term, doc_id AS q_doc_id FROM cands WHERE rnk = 1),
pair AS (
  SELECT c.term, c.doc_id, c.bm25, m.max_bm25,
         e.embedding AS cv, eq.embedding AS qvv
  FROM cands c
  JOIN maxb m USING (term)
  JOIN qv USING (term)
  JOIN embeddings e ON e.vec_id = c.doc_id
  JOIN embeddings eq ON eq.vec_id = qv.q_doc_id
),
el AS (
  SELECT term, doc_id, bm25, max_bm25,
         CAST(unnest(cv) AS DOUBLE) AS x, CAST(unnest(qvv) AS DOUBLE) AS y
  FROM pair
),
cos AS (
  SELECT term, doc_id, bm25, max_bm25,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
           AS cosine
  FROM el GROUP BY 1, 2, 3, 4
),
hyb AS (
  SELECT term, doc_id, bm25, cosine,
         round(0.5 * bm25 / max_bm25 + 0.5 * cosine, 6) AS hybrid
  FROM cos
),
ranked AS (
  SELECT term, doc_id, bm25, cosine, hybrid,
         row_number() OVER (PARTITION BY term ORDER BY hybrid DESC, doc_id)
           AS rnk
  FROM hyb
)
SELECT term, rnk, doc_id, bm25, cosine, hybrid
FROM ranked WHERE rnk <= 10 ORDER BY term, rnk
""",
    notes="two-stage hybrid retrieval: BM25 candidates re-ranked by "
    "alpha*bm25/max + (1-alpha)*cosine to the rank-1 doc's vector "
    "(pseudo-relevance feedback); the RAG retriever shape",
)(lambda spark: text.hybrid_retrieval(spark))


_register(
    "text_bigram_ce",
    """
WITH toks AS (
  SELECT doc_id, lang, string_split(lower(text), ' ') AS ws FROM documents
),
doc_bi AS (
  SELECT doc_id, lang, p[1] || ' ' || p[2] AS bigram
  FROM toks, unnest(list_zip(ws[1:len(ws) - 1], ws[2:])) AS u(p)
),
bi_counts AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS c_bi FROM doc_bi GROUP BY 1
),
uni AS (
  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
),
uni_counts AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c_uni
  FROM uni WHERE w <> '' GROUP BY 1
),
vocab AS (SELECT CAST(count(*) AS DOUBLE) AS v_size FROM uni_counts),
model AS (
  SELECT bigram, -ln((c_bi + 1.0) / (c_uni + v_size)) / ln(2) AS nll_bits
  FROM bi_counts
  JOIN uni_counts ON split_part(bigram, ' ', 1) = w
  CROSS JOIN vocab
)
SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(nll_bits), 6) AS bigram_ce
FROM doc_bi JOIN model USING (bigram) GROUP BY doc_id, lang
""",
    notes="add-one-smoothed bigram-LM cross-entropy per doc; in-row "
    "bigram build (word-level zip_with), vocabulary-sized model tables",
)(lambda spark: text.bigram_cross_entropy(spark))


_register(
    "ev_top_session_paths",
    """
WITH ordered AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, us, event_id, event_type,
         sum(new_s) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS UNBOUNDED PRECEDING
         ) AS session_seq
  FROM ordered
),
paths AS (
  SELECT user_id, session_seq,
         string_agg(event_type, '>' ORDER BY us, event_id) AS path
  FROM sess GROUP BY 1, 2
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path ORDER BY n_sessions DESC, path LIMIT 15
""",
    notes="within-session event-type path mining (top-k sequences); "
    "deterministic path assembly via sorted struct aggregation",
)(lambda spark: events_ops.top_session_paths(spark))


_register(
    "emb_ann_tuning_curve",
    similarity.ann_tuning_oracle_sql(),
    notes="ANN quality/cost audit: recall@k vs exact kNN per (method, "
    "knob) point across LSH probe radii and IVF nprobe — the eval "
    "harness as a query. PROMOTED rows-only -> fully oracled (r12): "
    "the LSH half replays bit-exactly (_bucket_code_sql + integer "
    "hamming), and the IVF half's one float-sensitive stage — cell "
    "ranking by centroid cosine — is 6dp-ROUNDED before ranking in "
    "BOTH engines (ties break on label), so the whole 6-point curve "
    "incl. float-averaged centroids hash-matches at all three SFs; "
    "monotonicity + exactness stay pinned in pytest",
)(lambda spark: similarity.ann_tuning_curve(spark))


_register(
    "text_classifier_calibration",
    """
WITH f AS (
  SELECT doc_id,
         ((length(' ' || lower(text) || ' ')
           - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5.0
        + (length(' ' || lower(text) || ' ')
           - length(replace(' ' || lower(text) || ' ', ' a ', ''))) / 3.0
        + (length(' ' || lower(text) || ' ')
           - length(replace(' ' || lower(text) || ' ', ' of ', ''))) / 4.0
        + (length(' ' || lower(text) || ' ')
           - length(replace(' ' || lower(text) || ' ', ' and ', ''))) / 5.0)
         / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
           AS stop_ratio,
         length(text)
         / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
           AS mean_word_len,
         ln(length(text) + 1.0) AS log_len
  FROM documents
),
scores AS (
  SELECT doc_id,
         round(1.0 / (1.0 + exp(-(-6.0 + 12.0 * stop_ratio
                                  + 0.55 * mean_word_len
                                  + 0.35 * log_len))), 6) AS quality_score
  FROM f
),
w AS (
  SELECT doc_id, text, string_split(lower(text), ' ') AS ws,
         ' ' || lower(text) || ' ' AS p
  FROM documents
),
gate AS (
  SELECT doc_id,
         CAST((len(ws) >= 30)
          AND (length(text) / CAST(len(ws) AS DOUBLE) <= 5.5)
          AND ((length(p) - length(replace(p, ' the ', ''))) / 5 / len(ws)
               >= 0.02)
          AND (len(list_distinct(list_transform(
                 generate_series(1, len(ws) - 2),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
               = len(ws) - 2) AS INT) AS passes
  FROM w WHERE len(ws) >= 3
),
joined AS (
  SELECT s.doc_id, s.quality_score, coalesce(g.passes, 0) AS gate
  FROM scores s LEFT JOIN gate g USING (doc_id)
)
SELECT CAST(least(floor(quality_score * 10), 9) AS INT) AS score_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(gate) AS BIGINT) AS n_gate_pass,
       round(avg(gate), 6) AS gate_rate,
       round(avg(quality_score), 6) AS avg_score
FROM joined GROUP BY 1 ORDER BY 1
""",
    notes="scorer-vs-gate calibration audit: per absolute score decile, "
    "the independent Gopher-gate pass rate — eval-as-a-query, fully "
    "oracled",
)(lambda spark: text.classifier_calibration(spark))


# ---------------------------------------------------------------------------
# Driver correctness-window ordering.
#
# The driver checks the FIRST 50 entries of queries() (registration order) at
# sf0.01. Cohort history: r01/r02 the original first-50; r03 the next 50;
# r04-r06 the round-3/4/5 additions; r07-r10 rotated changed queries plus the
# r03-cohort re-prove (CORRECTNESS_r01..r10: every one of the registry's
# queries driver-checked at least once, zero wrong answers ever).
#
# This round-16 window (VERDICT r15 "Next round" #3, zero rows-only
# entries — a rows-only driver row proves little; oracled twins take
# those slots):
#  1. Queries whose code or oracle changed THIS round — fresh driver
#     rows prove the change: the new uav_pixel_moments /
#     uav_pixel_moments_mjpeg content-signing twins (VERDICT r15 #4),
#     text_compression_bound (its gate lineage now derives entropy_flag
#     from the published 6dp ratio — ADVICE r15 #1),
#     emb_pca_spectrum (partials collect hardened: per-partition
#     accumulation + the bounded tree combine — VERDICT r15 "What's
#     wrong" #2), and ev_type_stats (the r15 window's promised
#     re-prove; also the last r08-cohort member).
#  2. The r09-cohort re-prove in r09 (CORRECTNESS_r09.json) order —
#     emb_pca_spectrum already placed above; ev_markov_absorption's
#     changed conservation margin (ADVICE r15 #3) gets its fresh row
#     at its natural r09 position.
# Names listed here sort first, in this order; everything else follows
# in registration order. Exactly 50 names (pinned by
# test_driver_window_holds_the_priority_queries).
#
# r17 queue: the r09-cohort tail this window could not fit
# (tpch_q19_disjunctive, tpch_q22_sales_opportunity, text_token_stats,
# text_quality_scores, text_lang_confusion, text_word_counts in r09
# order), then the r10 cohort re-prove in r10 (CORRECTNESS_r10.json)
# order, rows-only members (rel_approx_percentiles,
# uav_pixel_detections) and names freshly proven in r16 yielding slots.
# ---------------------------------------------------------------------------
_DRIVER_WINDOW_PRIORITY: list[str] = [
    # -- changed or added this round (r16): fresh proof rows --
    "uav_pixel_moments",
    "uav_pixel_moments_mjpeg",
    "media_wav_features",
    "media_audio_vad",
    "text_compression_bound",
    "emb_pca_spectrum",
    "ev_type_stats",
    # -- r09-cohort re-prove (oldest driver rows = r09) in r09 order --
    "dedup_split_leakage",
    "text_source_quota",
    "text_length_buckets",
    "text_source_overlap",
    "dedup_containment",
    "rel_compaction_plan",
    "ev_mad_outliers",
    "emb_cosine_histogram",
    "ev_bounce_rate",
    "text_chunk_manifest",
    "ev_kaplan_meier",
    "ev_diff_in_diff",
    "text_distinct_ngrams",
    "text_kneser_ney",
    "emb_silhouette",
    "rel_zone_map_pruning",
    "dedup_winnowing",
    "emb_random_projection",
    "text_burstiness",
    "text_keyness",
    "rel_bloom_join_audit",
    "emb_knn_label_agreement",
    "ev_cohort_ltv",
    "ev_wilson_ci",
    "text_distinct_ngrams_approx",
    "ev_behavior_entropy",
    "text_js_divergence",
    "ev_funnel_windowed",
    "ev_markov_absorption",
    "ev_markov_transition_counts",
    "emb_pca_trace_identity",
    "uav_filename_order",
    "uav_fps_fallback",
    "uav_metadata_fields",
    "tpch_q4_order_priority",
    "tpch_q6_forecast",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "tpch_q18_large_volume",
    # tpch_q19_disjunctive / tpch_q22_sales_opportunity /
    # text_token_stats / text_quality_scores / text_lang_confusion /
    # text_word_counts (the r09 tail) yield their slots to the r16
    # changed-query rows; they lead the r17 queue
]


def _ordered_specs() -> list[QuerySpec]:
    rank = {n: i for i, n in enumerate(_DRIVER_WINDOW_PRIORITY)}
    order = {s.name: i for i, s in enumerate(_SPECS)}
    return sorted(
        _SPECS, key=lambda s: (0, rank[s.name]) if s.name in rank else (1, order[s.name])
    )


def all_specs() -> list[QuerySpec]:
    return _ordered_specs()


def queries() -> dict[str, QueryFn]:
    return {s.name: s.build for s in _ordered_specs()}


def oracle_sql() -> dict[str, str]:
    return {s.name: s.oracle for s in _ordered_specs() if s.oracle is not None}


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry() target: the M1 flagship — per-class detection stats on
    keyframes (SURVEY.md §7)."""
    register_uav_views(spark, sf_dir)
    return uav_core.class_stats(spark.table("detections"))


__all__ = [
    "QuerySpec",
    "all_specs",
    "queries",
    "oracle_sql",
    "flagship",
    "fixtures",
]


# ===========================================================================
# round-1 additions: inverse letterbox, array projections, subquery forms
# ===========================================================================

from uav_streamprocessor_spark.operators import uav_extra  # noqa: E402

_GEO_SUBQ = """(
  SELECT camera_id, frame_number, width, height,
         least(CAST(640 AS DOUBLE) / width, CAST(640 AS DOUBLE) / height) AS scale,
         CAST(floor((640 - CAST(floor(width * least(CAST(640 AS DOUBLE) / width, CAST(640 AS DOUBLE) / height)) AS INT)) / 2) AS INT) AS pad_left,
         CAST(floor((640 - CAST(floor(height * least(CAST(640 AS DOUBLE) / width, CAST(640 AS DOUBLE) / height)) AS INT)) / 2) AS INT) AS pad_top
  FROM frames
) g"""

_register(
    "uav_box_original_coords",
    with_fixture_ctes(
        f"""
SELECT d.det_id, d.camera_id, d.frame_number, d.class_name,
  least(greatest(CAST(floor((d.x_min - g.pad_left) / g.scale) AS INT), 0), g.width)  AS x_min_orig,
  least(greatest(CAST(floor((d.y_min - g.pad_top) / g.scale) AS INT), 0), g.height)  AS y_min_orig,
  least(greatest(CAST(floor((d.x_max - g.pad_left) / g.scale) AS INT), 0), g.width)  AS x_max_orig,
  least(greatest(CAST(floor((d.y_max - g.pad_top) / g.scale) AS INT), 0), g.height)  AS y_max_orig
FROM detections d
JOIN {_GEO_SUBQ}
  ON d.camera_id = g.camera_id AND d.frame_number = g.frame_number
"""
    ),
    notes="inverse letterbox: canvas coords → original frame pixels",
)(lambda spark: uav_extra.detections_in_original_coords(
    spark.table("frames"), spark.table("detections")))


_register(
    "uav_frame_detection_summary",
    with_fixture_ctes(
        f"""
SELECT camera_id, frame_number,
       CAST(count(*) AS INT) AS n_boxes,
       string_agg(class_name, ',' ORDER BY det_id) AS class_names,
       CAST(count(DISTINCT class_name) AS INT) AS n_distinct_classes,
       CAST(max(CASE WHEN class_name = 'car' THEN 1 ELSE 0 END) AS INT) AS has_car
FROM detections WHERE {_DET_FILTER}
GROUP BY camera_id, frame_number
"""
    ),
    notes="per-keyframe log line (uav/main.py:126-129): len(bboxes) + class list",
)(lambda spark: uav_extra.frame_detection_summary(spark.table("detections")))


_register(
    "rel_above_avg_balance",
    """
SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
""",
)(lambda spark: relational.customers_above_avg_balance(spark))


_register(
    "rel_part_min_price",
    """
SELECT l_partkey, round(l_extendedprice, 2) AS min_price,
       l_suppkey AS best_suppkey
FROM (
  SELECT l_partkey, l_extendedprice, l_suppkey,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY l_extendedprice, l_suppkey) AS rn
  FROM lineitem
) WHERE rn = 1
""",
)(lambda spark: relational.part_min_price_supplier(spark))


_register(
    "rel_having_nations",
    """
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(avg(c_acctbal), 6) AS avg_balance
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name HAVING count(*) >= 5
""",
)(lambda spark: relational.nations_with_many_customers(spark))


_register(
    "rel_price_histogram",
    """
SELECT CASE WHEN o_totalprice < 50000 THEN 'lt_50k'
            WHEN o_totalprice < 100000 THEN '50k_100k'
            WHEN o_totalprice < 200000 THEN '100k_200k'
            ELSE 'ge_200k' END AS price_bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price
FROM orders GROUP BY 1
""",
)(lambda spark: relational.order_price_histogram(spark))


_register(
    "ev_map_functions",
    """
WITH m AS (
  SELECT event_id,
         map(['type', 'uid'], [event_type, CAST(user_id AS STRING)]) AS mm
  FROM events
)
SELECT event_id,
       mm['type'][1] AS m_type,
       mm['uid'][1] AS m_uid,
       CAST(cardinality(mm) AS INT) AS m_size,
       array_to_string(map_keys(mm), ',') AS m_keys
FROM m
""",
    notes="map-typed column surface; oracle builds a real DuckDB MAP from "
    "the same fields and extracts size/keys/values from it",
)(lambda spark: events_ops.map_functions_surface(spark))


_register(
    "ev_try_expressions",
    """
SELECT event_id,
       TRY_CAST(event_type AS INT) AS bad_cast,
       TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k_parsed,
       TRY_CAST(json_extract_string(props, '$.missing') AS INT) AS k_missing,
       coalesce(TRY_CAST(json_extract_string(props, '$.k') AS INT), -1)
         AS k_or_default
FROM events
""",
    notes="explicit error-tolerance (try_*) — SURVEY.md §7 hard #4",
)(lambda spark: events_ops.try_expressions(spark))


_register(
    "uav_camera_frame_gaps",
    with_fixture_ctes(
        """
SELECT camera_id, frame_number AS gap_after, next_fn AS resume_at,
       next_fn - frame_number - 1 AS missing
FROM (
  SELECT camera_id, frame_number,
         lead(frame_number) OVER (PARTITION BY camera_id
                                  ORDER BY frame_number) AS next_fn
  FROM frames WHERE frame_number % 30 = 0
)
WHERE next_fn - frame_number > 1
"""
    ),
    notes="applyInPandas grouped-map continuity audit (run on the "
    "decimated sequence so gaps exist); oracle = lead() window",
)(lambda spark: uav_extra.camera_frame_gaps(
    uav_core.keyframes(spark.table("frames"))))


_register(
    "tpch_q6_forecast",
    """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
)(lambda spark: relational.q6_forecasting_revenue(spark))


_register(
    "uav_detection_labels",
    with_fixture_ctes(
        f"""
SELECT det_id, camera_id, frame_number,
       printf('%s: %.2f', class_name, round(confidence * 100) / 100) AS label
FROM detections WHERE {_DET_FILTER}
"""
    ),
    notes="T3 label formatting (uav/frame_processing.py:126)",
)(lambda spark: uav_extra.detection_labels(spark.table("detections")))


def _pixel_pipeline(spark):
    """Full pixel path over the synthetic video source: decode →
    decimate → fused letterbox+detect (one Arrow mapInPandas pass) →
    explode to flat detections. Exercises the T1/T2 hot path end-to-end
    (uav/main.py:109-141); sized independently of sf_dir because the
    corpus has no pixel data."""
    from uav_streamprocessor_spark.plans.pipeline import keyframe_detections_flat
    from uav_streamprocessor_spark.sources import video_source

    video_source.register(spark)
    spec = ",".join(
        f"synthetic://bench{i}?frames=150&w=640&h=360&seed={40 + i}"
        for i in range(2)
    )
    frames = (
        spark.read.format("uav_video")
        .option("path", spec)
        .option("framesPerPartition", "30")
        .load()
    )
    return keyframe_detections_flat(frames)


_register(
    "uav_pixel_detections",
    None,
    notes="pixel hot path (decode→letterbox→detect→explode) over the "
    "uav_video source; Arrow-batched UDFs — not SQL-expressible",
)(_pixel_pipeline)


# Fixture sizes shared by each fixture builder and the keyframe IN list
# its query pushes into the uav_video source, so the two can never
# disagree (a literal list silently drops keyframes once a fixture
# grows; tests/test_r18_optimizations.py pins the tie).
# (n_cams, n_frames, w, h, q) of the MJPG detections fixture
_MJPEG_FIXTURE_GEOMETRY = (2, 60, 640, 360, 85)
# (n_cams, n_frames, w, h, q) of the md5 MJPG contract fixture
_MJPEG_MD5_FIXTURE_GEOMETRY = (2, 31, 640, 360, 85)
# frames per camera of the md5 synthetic moments source
_MOMENTS_FRAMES = 121


def _keyframe_numbers(n_frames: int) -> list[int]:
    """The frame numbers the production keyframes() modulo filter keeps
    out of an n_frames-long source at the configured interval."""
    from uav_streamprocessor_spark.config import DEFAULT_CONFIG

    return list(range(0, n_frames, DEFAULT_CONFIG.keyframe_interval))


def _build_once(name: str, files: list[str], write) -> list[str]:
    """Build-once fixture directory `name` under the temp dir, cached on
    disk per box: write(tmp) fills a pid-private directory that is then
    renamed into place atomically, so a concurrent build loses the
    race harmlessly. Returns the paths of `files` inside it."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    base = Path(tempfile.gettempdir()) / name
    paths = [str(base / f) for f in files]
    if base.exists():
        return paths
    tmp = Path(str(base) + f".tmp{os.getpid()}")
    tmp.mkdir(parents=True, exist_ok=True)
    write(tmp)
    try:
        os.rename(tmp, base)
    except OSError:  # lost a concurrent-build race: theirs is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return paths


def _mjpeg_avi_fixture(spark, geometry, prefix: str, cam: str, tail) -> list[str]:
    """Build-once MJPG AVI fixture of geometry (n_cams, n_frames, w, h,
    q): synthetic uav_video cameras `{cam}{i}` (the spec tail(i) picks
    their frame generator) are JPEG-encoded on executors (q, 4:2:0) and
    muxed into one MJPG AVI per camera."""
    n_cams, n_frames, w, h, q = geometry

    def write(tmp):
        from uav_streamprocessor_spark.sources import video_source
        from uav_streamprocessor_spark.sources.avi import FOURCC_MJPG, write_avi

        video_source.register(spark)
        spec = ",".join(
            f"synthetic://{cam}{i}?frames={n_frames}&w={w}&h={h}&{tail(i)}"
            for i in range(n_cams)
        )
        frames = (
            spark.read.format("uav_video")
            .option("path", spec)
            .option("framesPerPartition", "4")
            .load()
            .select("camera_id", "frame_number", "image")
        )

        def enc(batches):
            import pandas as pd

            from uav_streamprocessor_spark.operators.jpeg import encode_jpeg
            from uav_streamprocessor_spark.operators.pixel import decode_image

            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "camera_id": pdf["camera_id"],
                        "frame_number": pdf["frame_number"],
                        "jpg": [
                            encode_jpeg(
                                decode_image(bytes(b)), quality=q,
                                subsampling="4:2:0",
                            )
                            for b in pdf["image"]
                        ],
                    }
                )

        rows = frames.mapInPandas(
            enc, schema="camera_id string, frame_number long, jpg binary"
        ).collect()
        by_cam: dict[str, list] = {}
        for r in rows:
            by_cam.setdefault(r["camera_id"], []).append(
                (r["frame_number"], bytes(r["jpg"]))
            )
        for c, fr in by_cam.items():
            write_avi(
                tmp / f"{c}.avi",
                [b for _, b in sorted(fr)],
                fps=25.0, fourcc=FOURCC_MJPG, width=w, height=h,
            )

    return _build_once(
        f"{prefix}_{n_cams}x{n_frames}_{w}x{h}_q{q}",
        [f"{cam}{i}.avi" for i in range(n_cams)],
        write,
    )


def _mjpeg_fixture_paths(spark) -> list[str]:
    """MJPEG AVI bench fixture (VERDICT r12 #7): the SAME synthetic
    frames _pixel_pipeline reads (seeds 40/41, 640x360) at q=85, so the
    mjpeg pixel query pays the TRUE S2 cost — RIFF demux + entropy
    decode per frame — instead of the raw-tensor synthetic source. 60
    frames/cam keeps the pure-numpy decode lane (~0.39s per 640x360
    frame single-core) a bench-sized workload; with a native codec on
    the seam the same fixture runs ~100x faster."""
    return _mjpeg_avi_fixture(
        spark, _MJPEG_FIXTURE_GEOMETRY, "uav_spark_mjpeg_fixture_v1", "bench",
        lambda i: f"seed={40 + i}",
    )


def _pixel_pipeline_mjpeg(spark):
    """The pixel path over REAL compressed containers: MJPG AVI in,
    RIFF demux + pure-numpy baseline JPEG entropy decode per frame
    (sources/avi.py + operators/jpeg.py), then the same decimate →
    letterbox+detect → explode plan as uav_pixel_detections. This is
    the S2 shape UAV cameras actually emit (cv2.VideoCapture in
    uav/frame_reader.py:63); the synthetic twin measures the detect
    stages, this one adds the true decode cost."""
    from pyspark.sql import functions as F

    from uav_streamprocessor_spark.plans.pipeline import keyframe_detections_flat
    from uav_streamprocessor_spark.sources import video_source

    video_source.register(spark)
    paths = _mjpeg_fixture_paths(spark)
    frames = (
        spark.read.format("uav_video")
        .option("path", ",".join(paths))
        # r18: one keyframe per partition — under IN-list pushdown the
        # sparse plan packs requested frames into framesPerPartition
        # chunks, so "4" serialized a camera's keyframe decodes in one
        # task (detections-lane A/B median-of-5: 1.66 -> 1.25 s, rows
        # identical; ADJUDICATION_r18). The read is keyframe-sparse by
        # construction, so task count scales with keyframes, not frames.
        .option("framesPerPartition", "1")
        .load()
        # r17 (guide §6, pushdown to the scan — the r16 moments-twin
        # precedent applied to the detections lane): the keyframe
        # decimation this plan applies anyway rides into the source as
        # an IN list, so only the keyframes of each camera are
        # entropy-decoded — the sparse seek plan skips 58/60 of the
        # T.81 work; the production keyframes() modulo filter stays on
        # top, semantics unchanged. r18: the list derives from the
        # fixture geometry + configured interval instead of a literal
        # [0, 30] (ADVICE r17 — a longer fixture would have silently
        # dropped keyframes >= 60)
        .filter(
            F.col("frame_number").isin(
                _keyframe_numbers(_MJPEG_FIXTURE_GEOMETRY[1])
            )
        )
    )
    return keyframe_detections_flat(frames)


_register(
    "uav_pixel_detections_mjpeg",
    None,
    notes="pixel hot path over REAL MJPG AVI containers (RIFF demux + "
    "T.81 JPEG entropy decode per frame, then decimate→letterbox→"
    "detect→explode) — the S2 decode cost the synthetic twin skips "
    "(VERDICT r12 #7); fixture built once per box from the same seeds; "
    "Arrow-batched pixel UDFs — not SQL-expressible; content-signed by "
    "the oracled uav_pixel_moments / uav_pixel_moments_mjpeg twins "
    "(r16, VERDICT r15 #4)",
)(_pixel_pipeline_mjpeg)


def _pixel_moments(spark):
    """Content signature of the FULL pixel hot path (VERDICT r15 #4):
    the same decode → decimate → letterbox → detect pipeline as
    uav_pixel_detections, but over the md5-generated synthetic source
    (gen=md5) and collapsed to exact integer moments + detection sums
    (operators/pixel.content_signature) so every byte of the letterboxed
    payload AND every stub-detector output (frame_processing.py:60-115
    contract) replays bit-for-bit in DuckDB."""
    from pyspark.sql import functions as F

    from uav_streamprocessor_spark.operators.pixel import content_signature
    from uav_streamprocessor_spark.operators.uav_core import keyframes
    from uav_streamprocessor_spark.sources import video_source

    video_source.register(spark)
    spec = ",".join(
        f"synthetic://px{i}?frames={_MOMENTS_FRAMES}&w=640&h=360&gen=md5"
        for i in range(2)
    )
    frames = (
        spark.read.format("uav_video")
        .option("path", spec)
        # r18: one keyframe per partition — under IN-list pushdown the
        # sparse plan packs requested frames into framesPerPartition
        # chunks, so "4" serialized a camera's keyframe decodes in one
        # task (detections-lane A/B median-of-5: 1.66 -> 1.25 s, rows
        # identical; ADJUDICATION_r18). The read is keyframe-sparse by
        # construction, so task count scales with keyframes, not frames.
        .option("framesPerPartition", "1")
        .load()
        # bounded-decimation IN hint: consumed by the source's
        # frame_number pushdown, so skipped frames are never synthesized
        # (the keyframe analogue of row-group pruning); the production
        # keyframes() modulo filter stays on top, semantics unchanged
        .filter(F.col("frame_number").isin(_keyframe_numbers(_MOMENTS_FRAMES)))
    )
    return content_signature(keyframes(frames))


_register(
    "uav_pixel_moments",
    """
WITH kf AS (
  SELECT c.c AS cam, fr.fr AS fr
  FROM (SELECT unnest([0, 1]) AS c) c,
       (SELECT unnest([0, 30, 60, 90, 120]) AS fr) fr
),
chunks AS MATERIALIZED (
  SELECT cam, fr, ci.ci AS ci,
         md5('px' || cam || ':' || fr || ':' || ci.ci) AS hx
  FROM kf, unnest(generate_series(0, 43199)) AS ci(ci)
),
b AS MATERIALIZED (
  SELECT cam, fr, ci * 16 + o.o AS p,
         (strpos('0123456789abcdef', substr(hx, o.o * 2 + 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, o.o * 2 + 2, 1)) - 1)
           AS v
  FROM chunks, unnest(generate_series(0, 15)) AS o(o)
),
mom AS (
  SELECT cam, fr,
         CAST(sum(v) AS BIGINT) AS payload_sum,
         CAST(sum(v * v) AS BIGINT) AS payload_ss
  FROM b GROUP BY cam, fr
),
-- StubDetector seed replay: letterboxing 640x360 into 640x640 is
-- identity + 140 zero-pad rows (scale = 1.0 exactly), so
-- boxed[::16, ::16].sum() samples source pixels at rows y%16 == 4,
-- cols x%16 == 0, all 3 channels; raw byte p maps to
-- (y, x, c) = ((p//3)//640, (p//3)%640, p%3); + h*31 + w*7 on 640x640
sub AS (
  SELECT cam, fr, CAST(sum(v) AS BIGINT) + 640 * 31 + 640 * 7 AS seed
  FROM b
  WHERE ((p // 3) // 640) % 16 = 4 AND ((p // 3) % 640) % 16 = 0
  GROUP BY cam, fr
),
raw_boxes AS (
  SELECT cam, fr, seed * 131 + i.i * 17 AS s
  FROM sub, unnest(generate_series(0, 2)) AS i(i)
  WHERE i.i < seed % 4
),
kept AS (
  SELECT cam, fr, s % 1000 AS conf_milli,
         [2, 0, 7, 1, 16][CAST(s % 5 AS INT) + 1] AS cls,
         s % 632 AS x_min, (s * 3) % 632 AS y_min,
         least(s % 632 + 8 + s % 37, 640) AS x_max,
         least((s * 3) % 632 + 8 + s % 29, 640) AS y_max
  FROM raw_boxes
  WHERE s % 1000 >= 400 AND s % 5 IN (0, 1)
),
sig AS (
  SELECT cam, fr, CAST(count(*) AS INT) AS n_dets,
         CAST(sum(x_min + y_min + x_max + y_max) AS BIGINT)
           AS box_coord_sum,
         CAST(sum(conf_milli) AS BIGINT) AS conf_milli_sum,
         CAST(sum(cls) AS BIGINT) AS class_id_sum
  FROM kept GROUP BY cam, fr
)
SELECT 'px' || m.cam AS camera_id, CAST(m.fr AS BIGINT) AS frame_number,
       CAST(640 AS INT) AS height, CAST(640 AS INT) AS width,
       m.payload_sum, m.payload_ss,
       coalesce(s.n_dets, 0) AS n_dets,
       coalesce(s.box_coord_sum, CAST(0 AS BIGINT)) AS box_coord_sum,
       coalesce(s.conf_milli_sum, CAST(0 AS BIGINT)) AS conf_milli_sum,
       coalesce(s.class_id_sum, CAST(0 AS BIGINT)) AS class_id_sum
FROM mom m LEFT JOIN sig s ON s.cam = m.cam AND s.fr = m.fr
ORDER BY camera_id, frame_number
""",
    notes="content signature of the synthetic pixel hot path (r16, "
    "VERDICT r15 #4 — the media_frame_samples integer-moment recipe "
    "applied to T1/T2): exact S/SS over every letterboxed payload byte "
    "plus the stub detector's outputs collapsed to integer sums (corner "
    "coords, milli-confidence numerators, class ids). The gen=md5 "
    "source makes the pixels DuckDB-replayable, and the detector's "
    "subsample-checksum seed + box derivation are pure integer "
    "arithmetic, so the oracle recomputes decode, letterbox geometry, "
    "zero padding, AND detection end-to-end bit-for-bit",
)(_pixel_moments)


def _mjpeg_md5_fixture_paths(spark) -> list[str]:
    """MJPG AVI contract fixture (r16): md5-generated frames (the
    uav_pixel_moments tags, so camera_id:frame_number regenerates the
    pre-encode original inside the contract UDF) at q=85."""
    return _mjpeg_avi_fixture(
        spark, _MJPEG_MD5_FIXTURE_GEOMETRY, "uav_spark_mjpeg_md5_fixture_v1",
        "px", lambda i: "gen=md5",
    )


def _pixel_moments_mjpeg(spark):
    """Accuracy contract for the pixel path over REAL lossy containers
    (VERDICT r15 #4, the media_jpeg_roundtrip form): MJPG AVI in, RIFF
    demux + T.81 entropy decode, then per keyframe the verdict table —
    shape preserved, decode error vs the md5-regenerated original under
    the calibrated bound, letterbox padding exactly zero, detections
    inside the stub contract (operators/pixel.roundtrip_contract)."""
    from pyspark.sql import functions as F

    from uav_streamprocessor_spark.operators.pixel import roundtrip_contract
    from uav_streamprocessor_spark.operators.uav_core import keyframes
    from uav_streamprocessor_spark.sources import video_source

    video_source.register(spark)
    paths = _mjpeg_md5_fixture_paths(spark)
    frames = (
        spark.read.format("uav_video")
        .option("path", ",".join(paths))
        # r18: one keyframe per partition — under IN-list pushdown the
        # sparse plan packs requested frames into framesPerPartition
        # chunks, so "4" serialized a camera's keyframe decodes in one
        # task (detections-lane A/B median-of-5: 1.66 -> 1.25 s, rows
        # identical; ADJUDICATION_r18). The read is keyframe-sparse by
        # construction, so task count scales with keyframes, not frames.
        .option("framesPerPartition", "1")
        .load()
        # decimation pushdown: only the keyframes are entropy-decoded —
        # the sparse seek plan skips 29/31 of the T.81 work per camera
        .filter(
            F.col("frame_number").isin(
                _keyframe_numbers(_MJPEG_MD5_FIXTURE_GEOMETRY[1])
            )
        )
    )
    return roundtrip_contract(keyframes(frames))


_register(
    "uav_pixel_moments_mjpeg",
    """
SELECT 'px' || c.c AS camera_id, CAST(k.k * 30 AS BIGINT) AS frame_number,
       TRUE AS shape_ok, TRUE AS mae_ok, TRUE AS pad_ok, TRUE AS dets_ok
FROM (SELECT unnest([0, 1]) AS c) c, (SELECT unnest([0, 1]) AS k) k
ORDER BY camera_id, frame_number
""",
    notes="accuracy contract for the pixel path over REAL MJPG AVI "
    "containers (r16, VERDICT r15 #4 — the media_jpeg_roundtrip form, "
    "since entropy decode is not SQL-replayable): per keyframe, shape "
    "preserved through demux+decode+letterbox, mean |error| vs the "
    "md5-regenerated pre-encode original <= 60.0 (measured 44.7-44.8 "
    "on the fixture; unrelated noise reads ~85, where any demux/quant/"
    "IDCT regression lands), letterbox padding exactly zero, and every "
    "detection inside the stub detector's contract. Oracle derives the "
    "all-true table relationally; any codec regression flips a row",
)(_pixel_moments_mjpeg)


def _union_orders(spark):
    from pyspark.sql import functions as F

    orders = spark.table("orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select(
        "o_orderkey", F.lit("y1995").alias("bucket"))
    y96 = orders.filter(F.year("o_orderdate") == 1996).select(
        "o_orderkey", F.lit("y1996").alias("bucket"))
    return y95.unionByName(y96)


_register(
    "rel_union_orders",
    """
SELECT o_orderkey, 'y1995' AS bucket FROM orders WHERE year(o_orderdate) = 1995
UNION ALL
SELECT o_orderkey, 'y1996' AS bucket FROM orders WHERE year(o_orderdate) = 1996
""",
    notes="UNION ALL (unionByName)",
)(_union_orders)


# ===========================================================================
# round-2 additions: adapted TPC-H breadth (Q4/Q7/Q10/Q14/Q15/Q18/Q19/Q22)
# ===========================================================================

_register(
    "tpch_q4_order_priority",
    """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
""",
    notes="Q4 adapted: shipdate>orderdate stands in for the late-lineitem "
    "predicate (schema has no commitdate/receiptdate)",
)(lambda spark: relational.q4_order_priority(spark))


_register(
    "tpch_q7_volume_shipping",
    """
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
""",
)(lambda spark: relational.q7_volume_shipping(spark))


_register(
    "tpch_q10_returned_items",
    """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(min(c_acctbal), 2) AS c_acctbal
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""",
)(lambda spark: relational.q10_returned_items(spark))


_register(
    "tpch_q14_promo_effect",
    """
SELECT CAST(month(l_shipdate) AS INT) AS ship_month,
       round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1
""",
)(lambda spark: relational.q14_promo_effect(spark))


_register(
    "tpch_q15_top_supplier",
    """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
""",
)(lambda spark: relational.q15_top_supplier(spark))


_register(
    "tpch_q18_large_volume",
    """
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING round(sum(l_quantity), 2) > 300
)
SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       round(o_totalprice, 2) AS o_totalprice, total_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
""",
)(lambda spark: relational.q18_large_volume_customers(spark))


_register(
    "tpch_q19_disjunctive",
    """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_type = 'SMALL' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_type = 'MEDIUM' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 25)
   OR (p_type = 'LARGE' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 35)
""",
)(lambda spark: relational.q19_disjunctive_revenue(spark))


_register(
    "tpch_q22_sales_opportunity",
    """
SELECT n_name, CAST(count(*) AS BIGINT) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name
""",
)(lambda spark: relational.q22_sales_opportunity(spark))


_register(
    "text_regex_tokens",
    r"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
       CAST(len(list_filter(toks, x -> regexp_matches(x, '^[A-Za-z]+$'))) AS INT)
         AS n_word_tokens,
       CAST(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$'))) AS INT)
         AS n_number_tokens,
       CAST(len(toks)
            - len(list_filter(toks, x -> regexp_matches(x, '^[A-Za-z]+$')))
            - len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$'))) AS INT)
         AS n_symbol_tokens
FROM t
""",
    notes="BPE-ish regex pre-tokenizer counts (letters|digits|symbol), "
    "regexp_extract_all + array built-ins, no UDF",
)(lambda spark: text.regex_token_stats(spark))


_IVF_ORACLE_TEMPLATE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5
),
ev AS (
  SELECT vec_id, label, i.i AS dim,
         CAST(embedding[CAST(i.i AS INT)] AS DOUBLE) AS val
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS i(i)
),
cents AS (
  SELECT label, dim, avg(val) AS cval FROM ev GROUP BY label, dim
),
cn AS (SELECT label, sqrt(sum(cval * cval)) AS nrm FROM cents GROUP BY label),
qe AS (
  SELECT q.query_id, i.i AS dim, CAST(q.qvec[CAST(i.i AS INT)] AS DOUBLE) AS qx
  FROM q, unnest(generate_series(1, len(qvec))) AS i(i)
),
qn AS (SELECT query_id, sqrt(sum(qx * qx)) AS nrm FROM qe GROUP BY query_id),
probes AS (
  SELECT query_id, label FROM (
    SELECT s.query_id, s.label,
           row_number() OVER (PARTITION BY s.query_id
                              ORDER BY s.cent_cos DESC, s.label) AS cell_rank
    FROM (
      SELECT qe.query_id, c.label,
             round(1e6 * (sum(qe.qx * c.cval) / (qn.nrm * cn.nrm))) / 1e6
               AS cent_cos
      FROM qe JOIN cents c ON c.dim = qe.dim
      JOIN qn ON qn.query_id = qe.query_id
      JOIN cn ON cn.label = c.label
      GROUP BY qe.query_id, c.label, qn.nrm, cn.nrm
    ) s
  ) r WHERE cell_rank <= {nprobe}
),
en AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM ev GROUP BY vec_id),
sims AS (
  SELECT p.query_id, e.vec_id, e.label,
         round(1e6 * (sum(qe.qx * e.val) / (qn.nrm * en.nrm))) / 1e6 AS cosine
  FROM probes p
  JOIN ev e ON e.label = p.label
  JOIN qe ON qe.query_id = p.query_id AND qe.dim = e.dim
  JOIN qn ON qn.query_id = p.query_id
  JOIN en ON en.vec_id = e.vec_id
  WHERE e.vec_id <> p.query_id
  GROUP BY p.query_id, e.vec_id, e.label, qn.nrm, en.nrm
)
SELECT query_id, vec_id, label, cosine, CAST(rnk AS INT) AS rnk
FROM (
  SELECT query_id, vec_id, label, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rnk
  FROM sims
) WHERE rnk <= 5
"""


_register(
    "emb_ivf_topk",
    _IVF_ORACLE_TEMPLATE.format(nprobe=4),
    notes="IVF-style ANN: label = coarse cell, probe nprobe nearest "
    "centroids, exact re-rank inside probed cells only. PROMOTED "
    "rows-only -> fully oracled (r13): the probe and re-rank cosines "
    "snap to the 1e-6 grid (round(x*1e6)/1e6 on both engines) — "
    "centroid coordinates are per-label avg()s whose cross-engine ulp "
    "drift (~1e-15) cannot reach the 5e-7 boundary — so the DuckDB "
    "replay reproduces cell ranking, candidate set, and top-k exactly; "
    "recall vs brute force stays pinned in tests",
)(lambda spark: similarity.ivf_topk(spark))


_register(
    "emb_ivf_full_probe",
    _IVF_ORACLE_TEMPLATE.format(nprobe=1_000_000),
    notes="oracled exactness twin of IVF (r11): with nprobe >= n_cells "
    "every cell is probed, so the centroid ranking cannot change the "
    "candidate set and IVF must reproduce brute-force kNN exactly; "
    "since r13 the oracle is the shared IVF replay at full nprobe "
    "(grid-snapped cosines) rather than the knn oracle verbatim — "
    "emb_knn_bruteforce still pins the brute-force answer "
    "independently, and the full-probe twin signs the whole IVF "
    "pipeline (cell assignment, probe union, broadcast semi-filter, "
    "re-rank) end-to-end",
)(lambda spark: similarity.ivf_topk(spark, nprobe=1_000_000))


from uav_streamprocessor_spark.operators import skew  # noqa: E402

_register(
    "ev_salted_agg",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events GROUP BY event_type
""",
    notes="salted two-phase aggregation (key,salt partial -> merge); "
    "oracle is the plain GROUP BY it must equal",
)(lambda spark: skew.salted_two_phase_agg(spark))


_register(
    "rel_salted_join",
    """
SELECT o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
    notes="salted replicate join (fact salted, dim exploded to all salts); "
    "oracle is the plain join it must equal",
)(lambda spark: skew.salted_priority_revenue(spark))


_register(
    "ev_asof_clicks_views",
    """
WITH clicks AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
),
v AS (
  SELECT user_id, ts AS view_ts, max(event_id) AS view_event_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
       v.view_event_id,
       CAST(floor(epoch(v.view_ts)) AS BIGINT) AS view_epoch,
       CAST(floor(epoch(c.ts)) - floor(epoch(v.view_ts)) AS BIGINT) AS gap_s
FROM clicks c ASOF JOIN v
  ON c.user_id = v.user_id AND c.ts >= v.view_ts
""",
    notes="AS-OF join via union + last(ignorenulls) single-shuffle "
    "composition; oracle is DuckDB's NATIVE ASOF JOIN",
)(lambda spark: events_ops.asof_join_clicks_to_views(spark))


_register(
    "ev_hierarchical_rollup",
    """
WITH minute AS (
  SELECT date_trunc('minute', ts) AS bucket, count(*) AS n, sum(value) AS v
  FROM events GROUP BY 1
),
hour AS (
  SELECT date_trunc('hour', bucket) AS bucket, CAST(sum(n) AS BIGINT) AS n,
         sum(v) AS v
  FROM minute GROUP BY 1
),
day AS (
  SELECT date_trunc('day', bucket) AS bucket, CAST(sum(n) AS BIGINT) AS n,
         sum(v) AS v
  FROM hour GROUP BY 1
)
SELECT 'minute' AS level, CAST(floor(epoch(bucket)) AS BIGINT) AS bucket_epoch,
       CAST(n AS BIGINT) AS n_events, round(v, 2) AS total_value FROM minute
UNION ALL
SELECT 'hour', CAST(floor(epoch(bucket)) AS BIGINT), n, round(v, 2) FROM hour
UNION ALL
SELECT 'day', CAST(floor(epoch(bucket)) AS BIGINT), n, round(v, 2) FROM day
""",
    notes="hypertable-style continuous-aggregate hierarchy: each coarser "
    "level aggregates the finer level's partials, never the raw table",
)(lambda spark: events_ops.hierarchical_time_rollup(spark))


_register(
    "rel_price_statistics",
    """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 6) AS p90_price,
       round(stddev_samp(o_totalprice), 6) AS price_stddev,
       round(corr(o_totalprice, o_custkey), 6) AS price_cust_corr,
       round(covar_samp(o_totalprice, o_custkey), 6) AS price_cust_covar
FROM orders GROUP BY o_orderstatus
""",
    notes="exact percentiles (Spark percentile == DuckDB quantile_cont, "
    "both linear interpolation) + corr/covar/stddev",
)(lambda spark: relational.order_price_statistics(spark))


_register(
    "rel_approx_percentiles",
    None,
    notes="percentile_approx t-digest sketch — engine-specific by design; "
    "exact twin rel_price_statistics carries the value oracle and "
    "rel_approx_percentile_bound oracles the sketch's rank-error "
    "contract",
)(lambda spark: relational.order_price_approx_percentiles(spark))


_register(
    "rel_approx_percentile_bound",
    """
SELECT o_orderstatus, q, CAST(count(*) AS BIGINT) AS n_rows,
       TRUE AS within_bound
FROM orders
CROSS JOIN (SELECT unnest([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
                           CAST(0.75 AS DOUBLE)]) AS q) qs
GROUP BY o_orderstatus, q
""",
    notes="oracled rank-error-bound audit for the rows-only sketch "
    "(VERDICT r10 #5): percentile_approx's documented contract (rank "
    "error <= n/accuracy) is checked against the data per (group, q); "
    "the oracle asserts the bound holds everywhere, so a sketch "
    "regression flips a boolean and breaks the hash",
)(lambda spark: relational.approx_percentile_rank_error(spark))


_register(
    "rel_unpivot_rates",
    """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
       round(l_quantity, 2) AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', round(l_discount, 2)
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', round(l_tax, 2) FROM lineitem
""",
    notes="UNPIVOT / melt (wide→long); oracle reshapes via UNION ALL",
)(lambda spark: relational.lineitem_unpivot(spark))


_register(
    "rel_grouping_sets",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
    notes="explicit GROUPING SETS (neither rollup nor cube) + grouping()",
)(lambda spark: relational.orders_grouping_sets(spark))


_register(
    "tpch_q13_customer_distribution",
    """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    notes="Q13: left outer join keeps zero-order customers; aggregation "
    "over an aggregation",
)(lambda spark: relational.q13_customer_distribution(spark))


_register(
    "uav_fps_null_semantics",
    with_fixture_ctes(
        """
SELECT camera_id,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(CASE WHEN fps IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_fps,
       CAST(sum(CASE WHEN fps IS NOT DISTINCT FROM 0.0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_zero_fps,
       sum(coalesce(nullif(fps, 0.0), 25.0)) AS sum_effective_fps,
       CAST(count(fps) AS BIGINT) AS n_fps_known
FROM frames GROUP BY camera_id
"""
    ),
    notes="NULL semantics: IS NULL, null-safe equality (eqNullSafe <=> "
    "IS NOT DISTINCT FROM), count(col) vs count(*), coalesce/nullif",
)(lambda spark: uav_core.fps_null_semantics(spark.table("frames")))


from uav_streamprocessor_spark.operators import sampling  # noqa: E402

_register(
    "text_train_test_split",
    """
SELECT lang,
       CASE WHEN substring(md5(text), 1, 1) <= 'c' THEN 'train'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc_id
FROM documents GROUP BY 1, 2
""",
    notes="deterministic content-hash train/test split (13/16 train); "
    "stable under re-ingest, replay, and engine change",
)(lambda spark: sampling.train_test_split_summary(spark))


_register(
    "text_shard_assignment",
    """
WITH h AS (
  SELECT doc_id,
         CASE WHEN substring(md5(text), 1, 1) <= '9'
              THEN ascii(substring(md5(text), 1, 1)) - 48
              ELSE ascii(substring(md5(text), 1, 1)) - 87 END * 16
       + CASE WHEN substring(md5(text), 2, 1) <= '9'
              THEN ascii(substring(md5(text), 2, 1)) - 48
              ELSE ascii(substring(md5(text), 2, 1)) - 87 END AS b
  FROM documents
)
SELECT CAST(b % 64 AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM h GROUP BY 1
""",
    notes="deterministic md5-prefix shard assignment for shuffled "
    "training output (partitionBy shard + local sort, no global sort)",
)(lambda spark: sampling.shard_assignment(spark))


_register(
    "text_stratified_downsample",
    """
WITH h AS (
  SELECT lang, doc_id, n_chars,
         CASE WHEN substring(md5(text), 3, 1) <= '9'
              THEN ascii(substring(md5(text), 3, 1)) - 48
              ELSE ascii(substring(md5(text), 3, 1)) - 87 END * 16
       + CASE WHEN substring(md5(text), 4, 1) <= '9'
              THEN ascii(substring(md5(text), 4, 1)) - 48
              ELSE ascii(substring(md5(text), 4, 1)) - 87 END AS u
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_sampled,
       min(doc_id) AS min_doc_id,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM h
WHERE u < (CASE WHEN lang = 'en' THEN 0.5 ELSE 0.9 END) * 256
GROUP BY lang
""",
    notes="deterministic hash-keyed stratified downsampling (halve 'en', "
    "keep 90% elsewhere) — content-hash uniform, no RNG, no driver action",
)(lambda spark: sampling.stratified_downsample(spark))


_register(
    "ev_funnel_conversion",
    """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
  GROUP BY e.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_viewed,
       CAST(count(c.t_click) AS BIGINT) AS n_clicked,
       CAST(count(p.t_purchase) AS BIGINT) AS n_purchased,
       round(count(c.t_click) / CAST(count(*) AS DOUBLE), 6)
         AS view_to_click_rate,
       round(count(p.t_purchase)
             / CAST(greatest(count(c.t_click), 1) AS DOUBLE), 6)
         AS click_to_purchase_rate
FROM v
LEFT OUTER JOIN c ON v.user_id = c.user_id
LEFT OUTER JOIN p ON v.user_id = p.user_id
""",
    notes="ordered view→click→purchase funnel, conditional-agg chain "
    "(no window, no self-join explosion)",
)(lambda spark: events_ops.funnel_view_click_purchase(spark))


_register(
    "tpch_q8_market_share",
    """
SELECT CAST(year(l_shipdate) AS INT) AS l_year,
       round(sum(CASE WHEN ns.n_name = 'NATION_1'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND nc.n_regionkey = (SELECT n_regionkey FROM nation
                        WHERE n_name = 'NATION_1')
GROUP BY 1
""",
    notes="Q8 adapted: market share of NATION_1 suppliers among its own "
    "region's customers, scalar-subquery region key",
)(lambda spark: relational.q8_market_share(spark))


# ===========================================================================
# r3 surface: repetition / boilerplate / contamination; retention cohorts;
# TPC-H q2/q9/q11/q16/q17/q21 adaptations.
# Registered AFTER the r3 driver window (the rotated never-checked 50 own
# it this round); pytest parity covers these now, the r4 rotation promotes
# them into the window.
# ===========================================================================

_register(
    "text_ngram_repetition",
    """
WITH w AS (
  SELECT doc_id, lang, string_split(lower(text), ' ') AS ws FROM documents
), g AS (
  SELECT doc_id, lang,
         list_transform(generate_series(1, len(ws) - 2),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS grams
  FROM w WHERE len(ws) >= 3
)
SELECT doc_id, lang,
       CAST(len(grams) AS INT) AS n_grams,
       CAST(len(list_distinct(grams)) AS INT) AS n_distinct_grams,
       round(1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE), 6)
         AS dup_gram_fraction
FROM g
""",
    notes="per-doc duplicate-trigram fraction (Gopher repetition family); "
    "map-only, arrays never explode",
)(lambda spark: repetition.ngram_repetition_stats(spark))


_register(
    "text_boilerplate_ngrams",
    """
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
g AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
  FROM w, unnest(generate_series(1, len(ws) - 2)) AS t(i)
  WHERE len(ws) >= 3
)
SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 5
""",
    notes="cross-document repeated trigrams (boilerplate detection); "
    "per-doc distinct before the global agg",
)(lambda spark: repetition.boilerplate_ngrams(spark))


_register(
    "text_gopher_quality",
    """
WITH w AS (
  SELECT lang, text, string_split(lower(text), ' ') AS ws,
         ' ' || lower(text) || ' ' AS p
  FROM documents
), f AS (
  SELECT lang,
         (len(ws) >= 30) AS f_len,
         (length(text) / CAST(len(ws) AS DOUBLE) <= 5.5) AS f_word_len,
         ((length(p) - length(replace(p, ' the ', ''))) / 5 / len(ws) >= 0.02)
           AS f_stopword,
         (len(list_distinct(list_transform(generate_series(1, len(ws) - 2),
              i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
          = len(ws) - 2) AS f_no_rep
  FROM w WHERE len(ws) >= 3
)
SELECT lang,
       CAST(f_len AND f_word_len AND f_stopword AND f_no_rep AS INT) AS passes,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(f_len AS BIGINT)) AS BIGINT) AS n_len_ok,
       CAST(sum(CAST(f_word_len AS BIGINT)) AS BIGINT) AS n_word_len_ok,
       CAST(sum(CAST(f_stopword AS BIGINT)) AS BIGINT) AS n_stopword_ok,
       CAST(sum(CAST(f_no_rep AS BIGINT)) AS BIGINT) AS n_no_rep_ok
FROM f GROUP BY 1, 2
""",
    notes="composite Gopher-style quality gate; every rule splits the "
    "corpus (thresholds corpus-calibrated)",
)(lambda spark: repetition.gopher_quality_flags(spark))


_register(
    "text_decontamination",
    """
WITH w AS (
  SELECT doc_id, substring(md5(text), 1, 1) <= 'c' AS is_train,
         string_split(lower(text), ' ') AS ws
  FROM documents
), g AS (
  SELECT DISTINCT doc_id, is_train,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS gram
  FROM w, unnest(generate_series(1, len(ws) - 3)) AS t(i)
  WHERE len(ws) >= 4
), tr AS (
  SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_train_docs
  FROM g WHERE is_train GROUP BY gram
)
SELECT g.doc_id AS test_doc_id,
       CAST(count(*) AS BIGINT) AS n_shared_grams,
       CAST(sum(n_train_docs) AS BIGINT) AS total_train_doc_hits
FROM g JOIN tr USING (gram)
WHERE NOT is_train
GROUP BY g.doc_id
""",
    notes="eval decontamination: 4-grams shared between the content-hash "
    "test split and ANY train doc; same key family as dedup/split",
)(lambda spark: repetition.decontamination_report(spark))


_register(
    "ev_retention_cohorts",
    """
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS event_week
  FROM events
)
SELECT cohort_week,
       CAST(datediff('day', cohort_week, event_week) // 7 AS INT) AS week_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users
FROM active JOIN firsts USING (user_id)
GROUP BY 1, 2
""",
    notes="weekly retention cohorts: first-event week x week offset x "
    "active users",
)(lambda spark: events_ops.retention_cohorts(spark))


_register(
    "tpch_q2_min_cost",
    """
WITH supp AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
), offers AS (
  SELECT l_partkey, l_suppkey, p_name,
         round(l_extendedprice / l_quantity * 100) / 100 AS unit_price
  FROM lineitem
  JOIN supp ON l_suppkey = s_suppkey
  JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'ECONOMY' AND l_quantity > 0
), mins AS (
  SELECT l_partkey, min(unit_price) AS min_unit_price FROM offers GROUP BY 1
)
SELECT o.l_partkey AS p_partkey, o.p_name, m.min_unit_price,
       min(o.l_suppkey) AS best_suppkey
FROM offers o
JOIN mins m ON o.l_partkey = m.l_partkey AND o.unit_price = m.min_unit_price
GROUP BY 1, 2, 3
""",
    notes="Q2 adapted: region-scoped min-cost supplier per ECONOMY part; "
    "lineitem stands in for partsupp; unit price rounded pre-join for "
    "hash-stable keys via the integer-scaling idiom round(x*100)/100 — "
    "plain round(x,2) diverges between Spark (decimal HALF_UP) and "
    "DuckDB (binary) on 1661 of 600k sf0.1 quotients landing exactly "
    "on .xx5 (r10 full-registry sf0.1 sweep finding)",
)(lambda spark: relational.q2_min_cost_supplier(spark))


_register(
    "tpch_q9_product_profit",
    """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - p_retailprice * 0.1 * l_quantity), 2) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
""",
    notes="Q9 adapted: profit by supplier nation x year; supply cost "
    "proxied by 10% of retail price (no partsupp table)",
)(lambda spark: relational.q9_product_profit(spark))


_register(
    "tpch_q11_important_value",
    """
WITH per_part AS (
  SELECT l_partkey, sum(l_extendedprice * l_quantity) AS part_value
  FROM lineitem GROUP BY 1
)
SELECT l_partkey, round(part_value, 2) AS part_value
FROM per_part
WHERE part_value > (SELECT avg(part_value) FROM per_part) * 1.5
""",
    notes="Q11 adapted: parts above 1.5x average part value (relative "
    "cutoff: non-vacuous at every SF); group-vs-global-scalar HAVING, "
    "one-row agg broadcast",
)(lambda spark: relational.q11_important_value_parts(spark))


_register(
    "tpch_q16_supplier_counts",
    """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY 1, 2, 3
""",
    notes="Q16 adapted: distinct supplier counts per part attribute "
    "combo; in-arrears suppliers excluded via anti join",
)(lambda spark: relational.q16_part_supplier_counts(spark))


_register(
    "tpch_q17_small_quantity",
    """
WITH avg_qty AS (
  SELECT l_partkey, avg(l_quantity) * 0.5 AS half_avg_qty
  FROM lineitem GROUP BY 1
)
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_small_orders
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN avg_qty USING (l_partkey)
WHERE p_brand = 'Brand#1' AND l_quantity < half_avg_qty
""",
    notes="Q17 adapted: revenue from below-half-average-quantity "
    "lineitems of one brand; correlated AVG as grouped agg + join back",
)(lambda spark: relational.q17_small_quantity_revenue(spark))


_register(
    "tpch_q21_waiting_suppliers",
    """
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         (datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
          > 60) AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp
  FROM lo GROUP BY 1
)
SELECT s_name, CAST(count(DISTINCT lo.l_orderkey) AS BIGINT) AS numwait
FROM lo
JOIN per_order USING (l_orderkey)
JOIN supplier ON lo.l_suppkey = s_suppkey
WHERE is_late AND n_supp >= 2 AND n_late_supp = 1
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT 20
""",
    notes="Q21 adapted: sole-late-shipper on multi-supplier orders; "
    "double EXISTS as one per-order distinct-count aggregate",
)(lambda spark: relational.q21_waiting_suppliers(spark))


_register(
    "ev_sessionize_gap",
    """
WITH o AS (
  SELECT user_id, event_id, ts, value,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
), s AS (
  SELECT user_id, ts, value,
         sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM o
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(epoch_us(ts)) // 1000000 AS BIGINT) AS session_start_epoch,
       CAST(max(epoch_us(ts)) // 1000000 AS BIGINT) AS session_end_epoch,
       round(sum(value), 2) AS total_value
FROM s GROUP BY 1, 2
""",
    notes="gap-based sessionization (lag-gap + running sum), the portable "
    "window form of ev_session_windows; exact integer-microsecond gaps, "
    "unique sort key",
)(lambda spark: events_ops.sessionize_gap_method(spark))


_register(
    "rel_window_navigation",
    """
SELECT o_custkey, o_orderkey,
       CAST(ntile(4) OVER w AS INT) AS price_quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       first_value(o_orderkey) OVER w AS biggest_orderkey,
       nth_value(o_orderkey, 2) OVER w_full AS second_orderkey
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
       w_full AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    notes="ntile/percent_rank/cume_dist/first_value/nth_value over a "
    "unique sort key (no peer-group divergence)",
)(lambda spark: relational.order_window_navigation(spark))


_register(
    "tpch_q12_ship_priority",
    """
SELECT l_linestatus,
       CAST(count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 END) AS BIGINT) AS high_line_count,
       CAST(count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                       THEN 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 30
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
    notes="Q12 adapted: l_linestatus for the absent l_shipmode, 30-day "
    "ship lag for the commit/receipt lateness predicate; completes the "
    "22-query TPC-H set",
)(lambda spark: relational.q12_shipping_priority(spark))


_register(
    "tpch_q20_excess_suppliers",
    """
WITH shipped AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small %'
  GROUP BY l_partkey, l_suppkey
), totals AS (
  SELECT l_partkey, sum(supp_qty) AS part_qty, count(*) AS n_supp
  FROM shipped GROUP BY l_partkey
)
SELECT s_suppkey, s_name, s_nationkey
FROM supplier
WHERE s_suppkey IN (
  SELECT shipped.l_suppkey
  FROM shipped JOIN totals ON shipped.l_partkey = totals.l_partkey
  WHERE supp_qty > 2.0 * part_qty / n_supp
)
ORDER BY s_suppkey
""",
    notes="Q20 adapted: lineitem for the absent partsupp; dominant "
    "supplier = shipped qty > 2x the fair share (relative cutoff like "
    "q11 — the fixed 0.5*sum form is vacuous on this corpus); "
    "agg-inside-agg + semi-join",
)(lambda spark: relational.q20_excess_suppliers(spark))


_CC_GRAPH_CTE = """
WITH RECURSIVE keys AS (
  SELECT doc_id, 'p:' || md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS key
  FROM documents
  UNION ALL
  SELECT doc_id, 'm:' || md5(array_to_string(string_split(text, ' ')[3:8], ' ')) AS key
  FROM documents
), e AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM keys a JOIN keys b USING (key)
  WHERE a.doc_id <> b.doc_id
), nodes AS (
  SELECT DISTINCT src AS node FROM e
), reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.node
), comp AS (
  SELECT node, min(lbl) AS component FROM reach GROUP BY node
)"""


_register(
    "dedup_doc_clusters",
    _CC_GRAPH_CTE
    + """
SELECT node AS doc_id, component AS cluster_id,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM comp
JOIN (SELECT component AS c2, count(*) AS cluster_size FROM comp GROUP BY component)
  ON component = c2
ORDER BY doc_id
""",
    notes="near-dup cluster resolution: two blocking-key families -> edge "
    "list -> hash-min connected components (iterative DataFrame fixpoint, "
    "O(diameter) rounds, localCheckpoint lineage truncation); oracle is "
    "DuckDB's recursive-CTE transitive closure",
)(lambda spark: dedup.doc_dup_clusters(spark))


_register(
    "dedup_cluster_removals",
    _CC_GRAPH_CTE
    + """
SELECT node AS removed_doc_id, component AS kept_doc_id
FROM comp WHERE node <> component
ORDER BY removed_doc_id
""",
    notes="survivor selection over resolved clusters: hash-min label IS "
    "the min doc_id, so removals fall out of the labeling",
)(lambda spark: dedup.doc_cluster_removals(spark))


def _kmeans_replay_ctes(k_limit_sql: str, iters: int = 5) -> str:
    """Shared DuckDB recursive-CTE replay of the QUANTIZED Lloyd loop
    (kmeans_lloyd quantize=1e6): ev unpacks vectors long-format, init
    seeds the k lowest vec_ids, cent iterates assignment (1e-6-snapped
    distances, ties to the lowest cluster index) + mean update (snapped
    to the same grid; empty clusters carry forward), asg is the final
    assignment against the round-`iters` centroids with its grid min-d2.
    Used by the emb_kmeans_profile and emb_semdedup oracles (r13
    promotions) — the quantization makes every intermediate
    engine-portable; see kmeans_lloyd's docstring for the drift math."""
    return f"""
ev AS (
  SELECT vec_id, i.i AS dim, CAST(embedding[CAST(i.i AS INT)] AS DOUBLE) AS val
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS i(i)
),
init AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, vec_id
  FROM embeddings ORDER BY vec_id LIMIT {k_limit_sql}
),
cent AS (
  SELECT 0 AS it, i.cluster, e.dim, e.val
  FROM init i JOIN ev e USING (vec_id)
  UNION ALL
  SELECT c.it + 1, c.cluster, c.dim,
         round(1e6 * coalesce(m.mval, c.val)) / 1e6 AS val
  FROM cent c
  LEFT JOIN (
    SELECT asg.cluster, e.dim, sum(e.val) / count(*) AS mval
    FROM (
      SELECT vec_id, cluster FROM (
        SELECT d.vec_id, d.cluster,
               row_number() OVER (PARTITION BY d.vec_id
                                  ORDER BY d.d2, d.cluster) AS rn
        FROM (
          SELECT e2.vec_id, c2.cluster,
                 round(1e6 * sum((e2.val - c2.val) * (e2.val - c2.val))) / 1e6 AS d2
          FROM ev e2 JOIN cent c2 ON c2.dim = e2.dim
          GROUP BY e2.vec_id, c2.cluster
        ) d
      ) r WHERE rn = 1
    ) asg
    JOIN ev e ON e.vec_id = asg.vec_id
    GROUP BY asg.cluster, e.dim
  ) m ON m.cluster = c.cluster AND m.dim = c.dim
  WHERE c.it < {iters}
),
asg AS (
  SELECT vec_id, cluster, d2 AS sq_dist FROM (
    SELECT d.vec_id, d.cluster, d.d2,
           row_number() OVER (PARTITION BY d.vec_id
                              ORDER BY d.d2, d.cluster) AS rn
    FROM (
      SELECT e.vec_id, c.cluster,
             round(1e6 * sum((e.val - c.val) * (e.val - c.val))) / 1e6 AS d2
      FROM ev e JOIN cent c ON c.dim = e.dim AND c.it = {iters}
      GROUP BY e.vec_id, c.cluster
    ) d
  ) r WHERE rn = 1
)"""


_register(
    "emb_kmeans_profile",
    f"""
WITH RECURSIVE
{_kmeans_replay_ctes("10")},
per_label AS (
  SELECT a.cluster, e.label, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(a.sq_dist * 1e6) AS BIGINT)) AS BIGINT) AS sum_ci
  FROM asg a JOIN embeddings e USING (vec_id)
  GROUP BY a.cluster, e.label
),
prof AS (
  SELECT cluster,
         CAST(sum(n) AS BIGINT) AS n_members,
         round(CAST(sum(sum_ci) AS DOUBLE) / CAST(sum(n) AS DOUBLE) / 100.0)
           / 1e4 AS mean_sq_dist
  FROM per_label GROUP BY cluster
),
maj AS (
  SELECT cluster, label AS majority_label FROM (
    SELECT cluster, label,
           row_number() OVER (PARTITION BY cluster
                              ORDER BY n DESC, label DESC) AS rn
    FROM per_label
  ) WHERE rn = 1
)
SELECT p.cluster, p.n_members, p.mean_sq_dist, m.majority_label
FROM prof p JOIN maj m USING (cluster)
ORDER BY p.cluster
""",
    notes="seeded Lloyd k-means (iterative DataFrame fixpoint: broadcast-"
    "literal centroids, fused partial-sum update, no explode). PROMOTED "
    "rows-only -> fully oracled (r13): the loop runs quantized "
    "(kmeans_lloyd quantize=1e6 — per-round centroid + distance snap to "
    "the 1e-6 grid, ties to the lowest cluster index), mean_sq_dist is "
    "an exact integer-moments average of grid units, and the DuckDB "
    "recursive CTE (_kmeans_replay_ctes, shared with emb_semdedup) "
    "replays all 5 rounds bit-for-bit; pytest invariants (exact "
    "recovery of separated clusters, monotone inertia, argmin "
    "consistency) still pinned; the oracled 1-round shadow "
    "emb_kmeans_contraction keeps signing the unquantized machinery",
)(lambda spark: similarity.kmeans_cluster_profile(spark))


_register(
    "emb_kmeans_contraction",
    """
WITH e AS (SELECT vec_id, embedding FROM embeddings),
ik AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, embedding
  FROM e ORDER BY vec_id LIMIT 10
),
c0 AS (
  SELECT CAST(cluster AS INT) AS cluster, i.i AS dim,
         CAST(embedding[CAST(i.i AS INT)] AS DOUBLE) AS val
  FROM ik, unnest(generate_series(1, len(embedding))) AS i(i)
),
ev AS (
  SELECT vec_id, i.i AS dim,
         CAST(embedding[CAST(i.i AS INT)] AS DOUBLE) AS val
  FROM e, unnest(generate_series(1, len(embedding))) AS i(i)
),
d0 AS (
  SELECT ev.vec_id, c0.cluster,
         sum((ev.val - c0.val) * (ev.val - c0.val)) AS dist
  FROM ev JOIN c0 USING (dim) GROUP BY 1, 2
),
a0 AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster)
             AS rn
    FROM d0) WHERE rn = 1
),
c1 AS (
  SELECT a0.cluster, ev.dim, avg(ev.val) AS val
  FROM a0 JOIN ev USING (vec_id) GROUP BY 1, 2
),
c1f AS (
  SELECT c0.cluster, c0.dim, coalesce(c1.val, c0.val) AS val
  FROM c0 LEFT JOIN c1 ON c1.cluster = c0.cluster AND c1.dim = c0.dim
),
d1 AS (
  SELECT ev.vec_id, c.cluster,
         sum((ev.val - c.val) * (ev.val - c.val)) AS dist
  FROM ev JOIN c1f c USING (dim) GROUP BY 1, 2
),
a1 AS (
  SELECT vec_id, cluster, dist FROM (
    SELECT vec_id, cluster, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster)
             AS rn
    FROM d1) WHERE rn = 1
),
norms AS (SELECT cluster, sum(val * val) AS sq_norm FROM c1f GROUP BY 1)
SELECT a1.cluster,
       CAST(count(*) AS BIGINT) AS n_members,
       round(avg(a1.dist), 6) AS mean_sq_dist,
       round(any_value(norms.sq_norm), 6) AS centroid_sq_norm
FROM a1 JOIN norms ON norms.cluster = a1.cluster
GROUP BY a1.cluster ORDER BY a1.cluster
""",
    notes="1-round Lloyd shadow of emb_kmeans_profile (same proof "
    "pattern as dedup_pagerank_contraction): deterministic init = the k "
    "lowest vec_ids, one argmin assignment (ties to the lowest cluster "
    "index on both sides), one mean update, one re-assignment — the "
    "DuckDB twin unrolls it relationally (unnest to (vec,dim,val), "
    "dim-join distance, window argmin) and signs per-cluster size, mean "
    "squared distance, AND the round-1 centroid squared norm at 6dp; "
    "one round keeps cross-engine float divergence ~1e-13, far inside "
    "both the 6dp boundary and the corpus's O(1e-3) argmin margins",
)(lambda spark: similarity.kmeans_contraction(spark))


_register(
    "text_unigram_cross_entropy",
    """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents
), counts AS (
  SELECT word, count(*) AS n FROM toks GROUP BY word
), lm AS (
  SELECT word, n / CAST((SELECT sum(n) FROM counts) AS DOUBLE) AS p FROM counts
)
SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
       round(-avg(ln(p)), 6) AS cross_entropy
FROM toks JOIN lm USING (word)
GROUP BY doc_id, lang
ORDER BY doc_id
""",
    notes="perplexity-filter staple: per-doc cross-entropy vs the corpus "
    "unigram LM; LM table joined without broadcast hint (vocab grows "
    "with corpus)",
)(lambda spark: text.unigram_cross_entropy(spark))


_register(
    "text_source_vocab_overlap",
    """
WITH sv AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS word FROM documents
), sizes AS (
  SELECT source, count(*) AS vocab FROM sv GROUP BY source
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_common
  FROM sv a JOIN sv b USING (word)
  WHERE a.source < b.source
  GROUP BY a.source, b.source
)
SELECT src_a, src_b, n_common,
       round(n_common / CAST(sa.vocab + sb.vocab - n_common AS DOUBLE), 6)
         AS vocab_jaccard
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
ORDER BY src_a, src_b
""",
    notes="cross-source vocabulary Jaccard (contamination matrix); "
    "word-keyed shuffle, sources^2 output",
)(lambda spark: text.source_vocabulary_overlap(spark))


from uav_streamprocessor_spark.operators import udx  # noqa: E402

_register(
    "text_top_bigrams_udtf",
    """
WITH w AS (
  SELECT string_split(text, ' ') AS words FROM documents
), g AS (
  SELECT words[i] || ' ' || words[i + 1] AS gram
  FROM (SELECT words, unnest(range(1, len(words))) AS i FROM w)
)
SELECT gram, CAST(count(*) AS BIGINT) AS n
FROM g GROUP BY gram ORDER BY n DESC, gram LIMIT 20
""",
    notes="Python UDTF (Spark 4 lateral table function) — oracle proves "
    "it interchangeable with the built-in transform form",
)(lambda spark: udx.top_bigrams_udtf(spark))


_register(
    "rel_weighted_price_udaf",
    """
SELECT l_returnflag,
       round(sum(l_extendedprice * l_quantity) / CAST(sum(l_quantity) AS DOUBLE), 4)
         AS weighted_avg_price,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    notes="GROUPED_AGG pandas UDAF (custom aggregate over Arrow columns) "
    "— oracle proves it against the decomposed sum(x*w)/sum(w) form",
)(lambda spark: udx.weighted_price_by_flag(spark))


_register(
    "ev_variant_props",
    """
SELECT CAST(json_extract(props, '$.k') AS INT) AS k_val,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events GROUP BY k_val ORDER BY k_val
""",
    notes="Spark 4 VARIANT type (parse_json + typed variant_get) vs "
    "DuckDB json_extract — variant parses once, string JSON re-parses "
    "per access",
)(lambda spark: events_ops.variant_props_stats(spark))


_register(
    "rel_monthly_revenue_spine",
    """
WITH RECURSIVE spine(month_start) AS (
  SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) FROM orders
  UNION ALL
  SELECT CAST(month_start + INTERVAL 1 MONTH AS DATE) FROM spine
  WHERE month_start < (SELECT CAST(date_trunc('month', max(o_orderdate)) AS DATE)
                       FROM orders)
)
SELECT s.month_start,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
       round(coalesce(sum(o.o_totalprice), 0.0), 2) AS revenue
FROM spine s
LEFT JOIN orders o ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = s.month_start
GROUP BY s.month_start
ORDER BY s.month_start
""",
    notes="Spark 4 WITH RECURSIVE date-spine gap fill (UNION ALL "
    "generator); zero-order months still get a row",
)(lambda spark: relational.monthly_revenue_spine(spark))


# ===========================================================================
# round-3 additions (cont.): PII redaction, URL blocklist analytics,
# MERGE upsert, SemDeDup
# ===========================================================================

from uav_streamprocessor_spark.operators.text import (  # noqa: E402
    EMAIL_RE as _EMAIL_RE,
    IP_RE as _IP_RE,
    PHONE_RE as _PHONE_RE,
)

_PII_DOCS_CTE = """
  SELECT source,
    text
    || CASE WHEN doc_id % 7 = 0
         THEN ' contact user' || CAST(doc_id AS STRING) || '@example.com'
         ELSE '' END
    || CASE WHEN doc_id % 11 = 0
         THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0')
         ELSE '' END
    || CASE WHEN doc_id % 13 = 0
         THEN ' host 10.' || CAST(doc_id % 256 AS STRING) || '.0.1'
         ELSE '' END AS text
  FROM documents
"""

_register(
    "text_pii_redaction",
    f"""
WITH pii_docs AS ({_PII_DOCS_CTE}),
scrubbed AS (
  SELECT source, text,
    regexp_replace(regexp_replace(regexp_replace(text,
      '{_EMAIL_RE}', '<EMAIL>', 'g'),
      '{_PHONE_RE}', '<PHONE>', 'g'),
      '{_IP_RE}', '<IP>', 'g') AS redacted
  FROM pii_docs
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN regexp_matches(text, '{_EMAIL_RE}') THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_with_email,
  CAST(sum(CASE WHEN regexp_matches(text, '{_PHONE_RE}') THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_with_phone,
  CAST(sum(CASE WHEN regexp_matches(text, '{_IP_RE}') THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_with_ip,
  CAST(sum(length(text) - length(redacted)) AS BIGINT) AS chars_redacted,
  CAST(sum(CASE WHEN regexp_matches(redacted,
       '({_EMAIL_RE})|({_PHONE_RE})|({_IP_RE})') THEN 1 ELSE 0 END) AS BIGINT)
    AS residual_pii
FROM scrubbed
GROUP BY source
ORDER BY source
""",
    notes="PII scrub audit: deterministic email/phone/IP injection (fixture) "
    "+ chained regexp_replace redaction (product); residual_pii column "
    "proves scrub completeness (= 0 alongside non-zero match counts). "
    "Patterns restricted to Java-regex ∩ RE2.",
)(lambda spark: text.pii_redaction_stats(spark))


_register(
    "text_url_domains",
    """
WITH url_docs AS (
  SELECT text
    || CASE WHEN doc_id % 3 = 0
         THEN ' see http://site' || CAST(doc_id % 40 AS STRING)
              || '.example.com/p' || CAST(doc_id AS STRING)
         ELSE '' END AS text
  FROM documents
),
blocklist AS (
  SELECT 'site0.example.com' AS domain
  UNION ALL SELECT 'site10.example.com'
  UNION ALL SELECT 'site20.example.com'
  UNION ALL SELECT 'site30.example.com'
),
domains AS (
  SELECT regexp_extract(text, 'https?://([A-Za-z0-9.-]+)', 1) AS domain
  FROM url_docs
)
SELECT domain, CAST(count(*) AS BIGINT) AS n_docs
FROM domains
WHERE domain <> '' AND domain NOT IN (SELECT domain FROM blocklist)
GROUP BY domain
ORDER BY n_docs DESC, domain
LIMIT 20
""",
    notes="URL host extraction + broadcast blocklist anti-join + top-k "
    "domains; the de-listing join never shuffles the corpus",
)(lambda spark: text.url_domain_stats(spark))


_register(
    "rel_merge_upsert",
    """
WITH base AS (
  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS price
  FROM orders
),
upd AS (
  SELECT o_orderkey AS key, 'U' AS status, o_totalprice + 100.0 AS price
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 30000000 AS key, 'N' AS status, 1000.0 AS price
  FROM orders WHERE o_orderkey % 100 = 0
),
merged AS (
  SELECT coalesce(u.key, b.key) AS key,
         coalesce(u.status, b.status) AS status,
         coalesce(u.price, b.price) AS price
  FROM base b FULL OUTER JOIN upd u ON b.key = u.key
)
SELECT status, CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(price), 2) AS total_price
FROM merged GROUP BY status ORDER BY status
""",
    notes="MERGE/upsert as full-outer join + coalesce (CDC snapshot "
    "maintenance); update batch = every 10th order re-priced, every "
    "100th key inserted above the key range",
)(lambda spark: relational.merge_upsert_summary(spark))


_register(
    "emb_semdedup",
    f"""
WITH RECURSIVE
{_kmeans_replay_ctes(
    "(SELECT greatest(1, CAST(ceil(count(*) / 50.0) AS INT)) FROM embeddings)"
)},
norms AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM ev GROUP BY vec_id),
pairs AS (
  SELECT a.cluster, b.vec_id AS removed_id,
         round(1e6 * (sum(ea.val * eb.val) / (na.nrm * nb.nrm))) / 1e6 AS cos
  FROM asg a
  JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN ev ea ON ea.vec_id = a.vec_id
  JOIN ev eb ON eb.vec_id = b.vec_id AND eb.dim = ea.dim
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nb ON nb.vec_id = b.vec_id
  GROUP BY a.cluster, a.vec_id, b.vec_id, na.nrm, nb.nrm
  HAVING round(1e6 * (sum(ea.val * eb.val) / (na.nrm * nb.nrm))) / 1e6 >= 0.4
),
removed AS (
  SELECT cluster, removed_id, max(cos) AS max_cos
  FROM pairs GROUP BY cluster, removed_id
),
pcr AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_removed,
         round(CAST(sum(CAST(round(max_cos * 1e6) AS BIGINT)) AS DOUBLE)
               / count(*)) / 1e6 AS avg_removed_cos
  FROM removed GROUP BY cluster
),
sizes AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs FROM asg GROUP BY cluster
)
SELECT s.cluster, s.n_docs,
       coalesce(p.n_removed, 0) AS n_removed,
       s.n_docs - coalesce(p.n_removed, 0) AS n_survivors,
       coalesce(p.avg_removed_cos, 0.0) AS avg_removed_cos
FROM sizes s LEFT JOIN pcr p USING (cluster)
ORDER BY s.cluster
""",
    notes="SemDeDup (arXiv:2303.09540): k-means clusters bound the "
    "quadratic pair search; keep-lowest-id within cluster at cosine>=0.4. "
    "PROMOTED rows-only -> fully oracled (r13, the coreness/kcenter "
    "recursive-replay pattern at full Lloyd depth): both engines snap "
    "each round's centroids, the argmin distances, and the pair cosines "
    "to the 1e-6 grid (round(x*1e6)/1e6 — coarse enough that ~1e-14 "
    "summation-order drift has ~1e-8 boundary-collision probability), "
    "ties break on the lowest cluster index in both, and "
    "avg_removed_cos is an exact integer-moments average of grid units, "
    "so the DuckDB recursive CTE replays cluster assignment, the "
    "5-round update loop, and the within-cluster pair scan end-to-end; "
    "invariants pinned in tests/test_kmeans.py",
)(lambda spark: similarity.semdedup_profile(spark))


_register(
    "text_decontamination_bloom",
    """
WITH w AS (
  SELECT doc_id, substring(md5(text), 1, 1) <= 'c' AS is_train,
         string_split(lower(text), ' ') AS ws
  FROM documents
), g AS (
  SELECT DISTINCT doc_id, is_train,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS gram
  FROM w, unnest(generate_series(1, len(ws) - 3)) AS t(i)
  WHERE len(ws) >= 4
), tr AS (
  SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_train_docs
  FROM g WHERE is_train GROUP BY gram
)
SELECT g.doc_id AS test_doc_id,
       CAST(count(*) AS BIGINT) AS n_shared_grams,
       CAST(sum(n_train_docs) AS BIGINT) AS total_train_doc_hits
FROM g JOIN tr USING (gram)
WHERE NOT is_train
GROUP BY g.doc_id
""",
    notes="decontamination scale path: broadcast xxhash64 eval-gram set "
    "semi-joins the corpus side MAP-SIDE before the gram agg; exact "
    "equi-join after removes hash collisions, so the oracle is "
    "text_decontamination's (results provably identical)",
)(lambda spark: repetition.decontamination_prefiltered(spark))


_register(
    "rel_scd2_history",
    """
WITH obs AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
         lag(o_orderpriority) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS prev_p
  FROM orders
), changes AS (
  SELECT * FROM obs WHERE prev_p IS NULL OR prev_p <> o_orderpriority
)
SELECT o_custkey, o_orderpriority AS priority,
       o_orderdate AS effective_from,
       lead(o_orderdate) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) AS effective_to,
       CASE WHEN lead(o_orderdate) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) IS NULL THEN 1 ELSE 0 END AS is_current
FROM changes
""",
    notes="SCD type-2 dimension history from an append-only log: collapse "
    "runs via lag, close ranges via lead; one shuffle reused by both "
    "windows",
)(lambda spark: relational.scd2_order_priority_history(spark))


_register(
    "rel_ntile_deciles",
    """
SELECT o_orderpriority, decile,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price,
       round(sum(o_totalprice), 2) AS sum_price
FROM (
  SELECT o_orderpriority, o_totalprice,
         ntile(10) OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice, o_orderkey
         ) AS decile
  FROM orders
)
GROUP BY o_orderpriority, decile
""",
    notes="feature binning: partitioned ntile deciles + per-bucket stats "
    "(per-source quality-score binning shape); partitioned window only",
)(lambda spark: relational.price_decile_stats(spark))


from uav_streamprocessor_spark.operators import multimodal  # noqa: E402

def _media_pixel_ctes() -> str:
    """Shared DuckDB replay of the documents_as_media thumbnail corpus
    (r13 ahash/phash oracle promotions): base pixels are md5-derived
    (multimodal._md5_noise — md5(g || ':' || chunk) hex bytes), so SQL
    regenerates them; the per-doc perturbation (one pixel XOR'd by
    (doc_id%3)+1 on all 3 channels) enters every downstream hash as a
    rank-1/one-block DELTA against the shared group base — 625 group
    images instead of 5000 doc images at sf0.1. Emits:
      docs(media_id, g, pr, pc, pv)  — doc key + perturbation coords
      px(g, y, x, c, b)              — base pixel bytes per GROUP
      gblocks(g, by, bx, s)          — 4x4-block luma3 (r+g+b) sums
      gtot(g, tot)                   — whole-image luma3 sum
      pert(media_id, g, pby, pbx, delta) — per-doc luma3 delta + block
    """
    return """
docs AS (
  SELECT doc_id AS media_id, doc_id // 8 AS g,
         CAST((doc_id * 7) % 32 AS INT) AS pr,
         CAST((doc_id * 13) % 32 AS INT) AS pc,
         CAST((doc_id % 3) + 1 AS INT) AS pv
  FROM documents
),
grps AS (SELECT DISTINCT g FROM docs),
chunks AS (
  SELECT g.g, ci.ci, md5(g.g || ':' || ci.ci) AS hx
  FROM grps g, unnest(generate_series(0, 191)) AS ci(ci)
),
px AS (
  SELECT k.g,
         ((k.ci * 16 + o.o) // 3) // 32 AS y,
         ((k.ci * 16 + o.o) // 3) % 32 AS x,
         (k.ci * 16 + o.o) % 3 AS ch,
         (strpos('0123456789abcdef', substr(k.hx, o.o * 2 + 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(k.hx, o.o * 2 + 2, 1)) - 1)
           AS b
  FROM chunks k, unnest(generate_series(0, 15)) AS o(o)
),
gblocks AS (
  SELECT g, y // 4 AS by, x // 4 AS bx, CAST(sum(b) AS BIGINT) AS s
  FROM px GROUP BY g, y // 4, x // 4
),
gtot AS (SELECT g, CAST(sum(s) AS BIGINT) AS tot FROM gblocks GROUP BY g),
pert AS (
  SELECT d.media_id, d.g, d.pr // 4 AS pby, d.pc // 4 AS pbx,
         d.pr AS pr, d.pc AS pc,
         CAST(sum(xor(px.b, d.pv) - px.b) AS BIGINT) AS delta
  FROM docs d JOIN px ON px.g = d.g AND px.y = d.pr AND px.x = d.pc
  GROUP BY d.media_id, d.g, d.pr, d.pc
)"""


_HAMMING_PAIRS_SQL = """
SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
       CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
FROM hashes a JOIN hashes b ON a.media_id < b.media_id
WHERE bit_count(xor(a.h, b.h)) <= 3
"""


_register(
    "media_ahash_neardups",
    f"""
WITH {_media_pixel_ctes()},
bits AS (
  SELECT p.media_id, gb.by * 8 + gb.bx AS i,
         CASE WHEN (gb.s + CASE WHEN gb.by = p.pby AND gb.bx = p.pbx
                                THEN p.delta ELSE 0 END) * 64
                   > (t.tot + p.delta)
              THEN 1 ELSE 0 END AS bit
  FROM pert p JOIN gblocks gb ON gb.g = p.g JOIN gtot t ON t.g = p.g
),
hashes AS (
  SELECT media_id,
         CAST(sum(CASE WHEN bit = 0 THEN 0
                       WHEN i = 63 THEN -9223372036854775807 - 1
                       ELSE (CAST(1 AS BIGINT) << i) END) AS BIGINT) AS h
  FROM bits GROUP BY media_id
)
{_HAMMING_PAIRS_SQL}
""",
    notes="image perceptual-hash near-dup: aHash (8x8 block bits) over "
    "the deterministic document-derived image corpus, banded 4x16 "
    "hamming join (recall 1.0 for hamming<=3 by pigeonhole, equality vs "
    "brute force pinned in tests). PROMOTED rows-only -> fully oracled "
    "(r13): the corpus now derives from md5 bytes (_md5_noise) and the "
    "hash bits compare EXACT integer luma3 block sums (64*block > "
    "total), so DuckDB regenerates pixels per GROUP, folds each doc's "
    "one-pixel perturbation in as a block delta, packs the same signed "
    "int64, and verifies hamming over ALL pairs — equivalent to the "
    "banded join's output by the pigeonhole recall proof",
)(lambda spark: multimodal.image_ahash_neardups(spark))


from uav_streamprocessor_spark.operators import sketches  # noqa: E402

_register(
    "ev_interval_join_bucketed",
    """
WITH o AS (
  SELECT user_id, event_id, ts,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
), s AS (
  SELECT user_id, ts,
         sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM o
), sess AS (
  SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
         CAST(min(epoch_us(ts)) // 1000000 AS BIGINT) AS session_start_epoch,
         CAST(max(epoch_us(ts)) // 1000000 AS BIGINT) AS session_end_epoch
  FROM s GROUP BY 1, 2
), e AS (
  SELECT user_id, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ev_epoch
  FROM events
)
SELECT sess.user_id, session_seq, session_start_epoch,
       CAST(count(*) AS BIGINT) AS n_contained
FROM e JOIN sess ON e.user_id = sess.user_id
  AND e.ev_epoch BETWEEN session_start_epoch AND session_end_epoch
GROUP BY 1, 2, 3
""",
    notes="interval containment via hour-bucket equi-join (each event "
    "carries one bucket -> each pair produced once, no dedup); oracle is "
    "the NAIVE range join, proving the bucketed plan = range-join "
    "semantics",
)(lambda spark: events_ops.interval_join_bucketed(spark))


_register(
    "ev_hll_rollup",
    None,
    notes="HLL distinct-user rollup from merged per-day DataSketches "
    "sketches (hll_sketch_agg/hll_union_agg, JVM aggregates). Rows-only: "
    "estimates aren't reproducible in DuckDB; merge-of-parts == "
    "sketch-of-whole and error bounds pinned in tests; the accuracy "
    "contract is oracled by ev_hll_rollup_bound",
)(lambda spark: sketches.hll_rollup(spark))


_register(
    "ev_hll_rollup_bound",
    """
SELECT event_type,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY event_type
""",
    notes="oracled accuracy-contract audit for the rows-only HLL rollup "
    "(rel_approx_distinct_bound pattern): |est - exact| <= "
    "4*(1.04/sqrt(2^12))*exact + 16, deterministic for fixed data; "
    "n_days and exact_users are the integer anchors",
)(lambda spark: sketches.hll_rollup_error_bound(spark))


_register(
    "ev_kll_quantiles",
    None,
    notes="KLL quantile sketches per day merged upward -> p50/p90/p99 "
    "without sort or rescan. Rows-only: sketch internals engine-specific; "
    "rank-error bound vs exact percentile pinned in tests; the rank-error "
    "contract is oracled by ev_kll_rank_bound",
)(lambda spark: sketches.kll_value_quantiles(spark))


_register(
    "ev_kll_rank_bound",
    """
SELECT event_type, q, CAST(count(*) AS BIGINT) AS n_rows,
       TRUE AS within_bound
FROM events
CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                           CAST(0.99 AS DOUBLE)]) AS q) qs
WHERE value IS NOT NULL
GROUP BY event_type, q
""",
    notes="oracled rank-error audit for the rows-only KLL quantiles "
    "(rel_approx_percentile_bound pattern): each merged-sketch quantile's "
    "true rank within its group must bracket q*n to within eps*n + 1 "
    "(eps = 2x the k=200 DataSketches bound, covering the daily-merge "
    "fan-in); oracle asserts the constant-true table",
)(lambda spark: sketches.kll_quantile_rank_bound(spark))


_register(
    "text_curation_funnel",
    """
WITH base AS (
  SELECT doc_id, lang, text FROM documents
), ded AS (
  SELECT doc_id, lang, text FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM base
  ) WHERE rn = 1
), qw AS (
  SELECT doc_id, text, string_split(lower(text), ' ') AS ws,
         ' ' || lower(text) || ' ' AS p
  FROM ded
), q AS (
  SELECT doc_id, text FROM qw
  WHERE len(ws) >= 30
    AND length(text) / CAST(len(ws) AS DOUBLE) <= 5.5
    AND (length(p) - length(replace(p, ' the ', ''))) / 5 / len(ws) >= 0.02
    AND len(list_distinct(list_transform(generate_series(1, len(ws) - 2),
          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) = len(ws) - 2
), split AS (
  SELECT doc_id, text, substring(md5(text), 1, 1) <= 'c' AS is_train
  FROM q
), g AS (
  SELECT DISTINCT doc_id, is_train,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS gram
  FROM (SELECT doc_id, is_train, string_split(lower(text), ' ') AS ws FROM split),
       unnest(generate_series(1, len(ws) - 3)) AS t(i)
  WHERE len(ws) >= 4
), contaminated AS (
  SELECT DISTINCT g.doc_id
  FROM g JOIN (SELECT DISTINCT gram FROM g WHERE NOT is_train) tg USING (gram)
  WHERE g.is_train
)
SELECT '00_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM base
UNION ALL
SELECT '10_exact_dedup', CAST(count(*) AS BIGINT) FROM ded
UNION ALL
SELECT '20_quality', CAST(count(*) AS BIGINT) FROM q
UNION ALL
SELECT '30_train_split', CAST(count(*) AS BIGINT) FROM split WHERE is_train
UNION ALL
SELECT '40_train_decontaminated', CAST(count(*) AS BIGINT)
FROM split WHERE is_train AND doc_id NOT IN (SELECT doc_id FROM contaminated)
UNION ALL
SELECT '41_eval_held_out', CAST(count(*) AS BIGINT) FROM split WHERE NOT is_train
""",
    notes="end-to-end curation funnel: exact dedup -> Gopher quality gate "
    "-> content-hash split -> 4-gram decontamination, every stage reusing "
    "the rule its standalone query proves; output pins per-stage "
    "cardinality",
)(lambda spark: repetition.curation_funnel(spark))


_register(
    "emb_norm_outliers",
    """
WITH norms AS (
  SELECT label, vec_id,
         round(sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS norm
  FROM (SELECT label, vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY label, vec_id
), r AS (
  SELECT label, norm,
         percent_rank() OVER (PARTITION BY label ORDER BY norm, vec_id) AS pr
  FROM norms
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN pr >= 0.95 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       round(min(CASE WHEN pr >= 0.95 THEN norm END), 6) AS min_flagged_norm
FROM r GROUP BY label
""",
    notes="norm-clipping curation step: per-label percent_rank outlier "
    "flagging (partitioned window, deterministic vec_id tie-break)",
)(lambda spark: similarity.norm_outlier_summary(spark))


_register(
    "text_array_hof",
    """
WITH w AS (
  SELECT lang, string_split(lower(text), ' ') AS ws FROM documents
), d AS (
  SELECT lang,
         len(list_filter(ws, w -> length(w) > 6)) AS n_long,
         CASE WHEN len(list_filter(ws, w -> w = 'the')) > 0
              THEN 1 ELSE 0 END AS has_the,
         CASE WHEN len(list_filter(ws, w -> NOT regexp_matches(w, '^[a-z]+$'))) = 0
              THEN 1 ELSE 0 END AS all_alpha,
         list_sum(list_transform(ws, w -> length(w))) AS total_chars
  FROM w
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_long) AS BIGINT) AS total_long_words,
       CAST(sum(has_the) AS BIGINT) AS docs_with_the,
       CAST(sum(all_alpha) AS BIGINT) AS docs_all_alpha,
       round(avg(total_chars), 6) AS avg_word_chars
FROM d GROUP BY lang
""",
    notes="higher-order functions (filter/exists/forall/aggregate) in one "
    "codegen stage; token arrays never explode",
)(lambda spark: text.array_hof_profile(spark))


_register(
    "rel_referential_audit",
    """
WITH l AS (
  SELECT 'orders->customer' AS relationship,
         CAST(count(*) AS BIGINT) AS n_child,
         CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_orphans
  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'lineitem->orders',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem li LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
    ON li.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'customer->nation',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
    ON c.c_nationkey = n.n_nationkey
  UNION ALL
  SELECT 'supplier->nation',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM supplier s LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
    ON s.s_nationkey = n.n_nationkey
)
SELECT * FROM l
""",
    notes="referential-integrity audit: orphan counts per FK link in one "
    "left-join pass each; no driver action in plan construction",
)(lambda spark: relational.referential_audit(spark))


_register(
    "rel_table_profile",
    """
WITH p AS (
  SELECT 'o_orderkey' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
         CAST(min(o_orderkey) AS VARCHAR) AS min_value,
         CAST(max(o_orderkey) AS VARCHAR) AS max_value
  FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT o_custkey) AS BIGINT),
         CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT o_orderstatus) AS BIGINT),
         CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT o_totalprice) AS BIGINT),
         CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT o_orderdate) AS BIGINT),
         CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT o_orderpriority) AS BIGINT),
         CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
  FROM orders
)
SELECT * FROM p
""",
    notes="per-column profiling audit (nulls/distincts/min/max as strings) "
    "— the schema-drift snapshot a pipeline records per ingest",
)(lambda spark: relational.table_profile(spark))


_register(
    "uav_nms_survivors",
    with_fixture_ctes(
        """
, d AS (
  SELECT det_id, camera_id, frame_number, class_name, confidence,
         x_min, y_min, x_max, y_max
  FROM detections
), sup AS (
  SELECT DISTINCT a.det_id
  FROM d a JOIN d b
    ON a.camera_id = b.camera_id AND a.frame_number = b.frame_number
   AND a.class_name = b.class_name
   AND (b.confidence > a.confidence
        OR (b.confidence = a.confidence AND b.det_id < a.det_id))
   AND greatest(0, least(a.x_max, b.x_max) - greatest(a.x_min, b.x_min))
     * greatest(0, least(a.y_max, b.y_max) - greatest(a.y_min, b.y_min)) * 100
     >= 10 * (
       (a.x_max - a.x_min) * (a.y_max - a.y_min)
       + (b.x_max - b.x_min) * (b.y_max - b.y_min)
       - greatest(0, least(a.x_max, b.x_max) - greatest(a.x_min, b.x_min))
         * greatest(0, least(a.y_max, b.y_max) - greatest(a.y_min, b.y_min)))
)
SELECT det_id, camera_id, frame_number, class_name,
       round(confidence, 6) AS confidence
FROM d WHERE det_id NOT IN (SELECT det_id FROM sup)
"""
    ),
    notes="relational one-pass NMS (IoU>=0.1 vs a higher-confidence box "
    "of same frame+class suppresses); integer-exact IoU comparison, "
    "equi-keyed per-frame candidates",
)(lambda spark: uav_extra.nms_one_pass_survivors(spark.table("detections")))


_NMS_GREEDY_ORACLE_TAIL = """
, ranked AS (
  SELECT camera_id, frame_number, class_name, det_id, confidence,
         x_min, y_min, x_max, y_max,
         CAST((x_max - x_min) * (y_max - y_min) AS BIGINT) AS area,
         row_number() OVER (PARTITION BY camera_id, frame_number, class_name
                            ORDER BY confidence DESC, det_id) AS rnk
  FROM detections
),
state AS (
  SELECT camera_id, frame_number, class_name, CAST(1 AS BIGINT) AS next_rnk,
         CAST([] AS BIGINT[]) AS kept_ids,
         CAST([] AS STRUCT(x0 BIGINT, y0 BIGINT, x1 BIGINT, y1 BIGINT,
                           a BIGINT)[]) AS kept
  FROM (SELECT DISTINCT camera_id, frame_number, class_name FROM ranked)
  UNION ALL
  SELECT s.camera_id, s.frame_number, s.class_name, s.next_rnk + 1,
         CASE WHEN len(list_filter(s.kept, b ->
                greatest(least(r.x_max, b.x1) - greatest(r.x_min, b.x0), 0)
                * greatest(least(r.y_max, b.y1) - greatest(r.y_min, b.y0), 0)
                * 100
                >= 10 * (r.area + b.a
                         - greatest(least(r.x_max, b.x1)
                                    - greatest(r.x_min, b.x0), 0)
                           * greatest(least(r.y_max, b.y1)
                                      - greatest(r.y_min, b.y0), 0))
              )) = 0
         THEN s.kept_ids || [r.det_id] ELSE s.kept_ids END,
         CASE WHEN len(list_filter(s.kept, b ->
                greatest(least(r.x_max, b.x1) - greatest(r.x_min, b.x0), 0)
                * greatest(least(r.y_max, b.y1) - greatest(r.y_min, b.y0), 0)
                * 100
                >= 10 * (r.area + b.a
                         - greatest(least(r.x_max, b.x1)
                                    - greatest(r.x_min, b.x0), 0)
                           * greatest(least(r.y_max, b.y1)
                                      - greatest(r.y_min, b.y0), 0))
              )) = 0
         THEN s.kept || [{'x0': r.x_min, 'y0': r.y_min, 'x1': r.x_max,
                          'y1': r.y_max, 'a': r.area}]
         ELSE s.kept END
  FROM state s
  JOIN ranked r
    ON r.camera_id = s.camera_id AND r.frame_number = s.frame_number
   AND r.class_name = s.class_name AND r.rnk = s.next_rnk
),
final_state AS (
  SELECT camera_id, frame_number, class_name, kept_ids,
         row_number() OVER (PARTITION BY camera_id, frame_number, class_name
                            ORDER BY next_rnk DESC) AS rr
  FROM state
),
survivors AS (
  SELECT camera_id, frame_number, class_name, unnest(kept_ids) AS det_id
  FROM final_state WHERE rr = 1
)
SELECT s.det_id, s.camera_id, s.frame_number, s.class_name,
       round(r.confidence, 6) AS confidence
FROM survivors s
JOIN ranked r ON r.det_id = s.det_id
"""


_register(
    "uav_nms_greedy",
    with_fixture_ctes(_NMS_GREEDY_ORACLE_TAIL).replace(
        "WITH ", "WITH RECURSIVE ", 1
    ),
    notes="exact greedy NMS via applyInPandas per (camera, frame, class) "
    "group — the sequential detector algorithm. PROMOTED rows-only -> "
    "fully oracled (r11): the greedy keep-list recursion replays in "
    "DuckDB as a RECURSIVE CTE whose working table carries one row per "
    "group with the kept-box list as a STRUCT[] column, consuming one "
    "confidence-rank per iteration; IoU comparisons are pure integer "
    "cross-multiplication (inter*100 >= pct*union), so the recursion is "
    "bit-deterministic on both engines. Superset-of-one-pass + "
    "brute-force equality pinned in tests",
)(lambda spark: uav_extra.nms_greedy_survivors(spark.table("detections")))


_register(
    "ev_rolling_7day",
    """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_events, sum(value) AS day_value
  FROM events GROUP BY 1, 2
)
SELECT user_id, day,
       CAST(sum(n_events) OVER w AS BIGINT) AS n_events_7d,
       round(sum(day_value) OVER w, 2) AS value_7d
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day - DATE '1970-01-01'
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
    notes="RANGE-frame trailing window (gap-correct 7-day totals) over "
    "pre-aggregated user-days; rowsBetween can't express this",
)(lambda spark: events_ops.rolling_7day_user_value(spark))


_register(
    "rel_k_anonymity",
    """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS class_size
  FROM customer GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_below_k,
       CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT)
         AS rows_exposed,
       CAST(min(class_size) AS BIGINT) AS min_class_size
FROM classes
""",
    notes="k-anonymity (k=5) audit over the (nation, segment) "
    "quasi-identifier: re-identification-risk snapshot beside PII "
    "redaction",
)(lambda spark: relational.k_anonymity_audit(spark))


_register(
    "emb_doc_join_stats",
    """
SELECT label, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_chars), 6) AS avg_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
GROUP BY label
""",
    notes="cross-modal enrichment join (vectors -> source docs); vector "
    "column pruned before the join",
)(lambda spark: similarity.embedding_doc_join_stats(spark))


# ===========================================================================
# round-4 additions: training-batch assembly, CCNet buckets, classifier
# scoring, contrastive mining, quality-aware survivors, substring-dup spans
# ===========================================================================

from uav_streamprocessor_spark.operators import packing  # noqa: E402

_HEX_NIBBLE_5_6 = """
  CAST(((CASE WHEN substr(md5(text), 5, 1) <= '9'
              THEN ascii(substr(md5(text), 5, 1)) - 48
              ELSE ascii(substr(md5(text), 5, 1)) - 87 END) * 16
       + (CASE WHEN substr(md5(text), 6, 1) <= '9'
               THEN ascii(substr(md5(text), 6, 1)) - 48
               ELSE ascii(substr(md5(text), 6, 1)) - 87 END)) % 16 AS INT)
"""


_register(
    "text_sequence_packing",
    f"""
WITH d AS (
  SELECT doc_id,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
           AS n_tokens,
         {_HEX_NIBBLE_5_6} AS shard
  FROM documents
), s AS (
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM d
), staged AS (
  SELECT doc_id, shard, n_tokens,
         (cum - n_tokens) // 512 AS seq_id,
         (cum - 1) // 512 AS seq_id_last
  FROM s
)
SELECT shard, seq_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN seq_id_last > seq_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_split_docs,
       CAST(sum(n_tokens) AS BIGINT) AS started_tokens,
       min(doc_id) AS first_doc_id
FROM staged GROUP BY shard, seq_id ORDER BY shard, seq_id
""",
    notes="GPT-style concat-and-chunk sequence packing, per hash shard: "
    "running token cumsum partitioned by shard (parallel, no global "
    "sort), sequence ids via exact integer div",
)(lambda spark: packing.sequence_packing(spark))


_register(
    "text_mix_weights",
    """
WITH src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
              AS BIGINT) AS total_tokens
  FROM documents GROUP BY source
), t AS (
  SELECT sum(pow(CAST(total_tokens AS DOUBLE), 0.7)) AS w_sum,
         CAST(sum(total_tokens) AS DOUBLE) AS t_sum
  FROM src
)
SELECT source, n_docs, total_tokens,
       round(pow(CAST(total_tokens AS DOUBLE), 0.7) / w_sum, 6) AS weight,
       round((pow(CAST(total_tokens AS DOUBLE), 0.7) / w_sum)
             / (total_tokens / t_sum), 6) AS oversample,
       CAST(round(pow(CAST(total_tokens AS DOUBLE), 0.7) / w_sum * 1000000)
            AS BIGINT) AS expected_tokens
FROM src, t ORDER BY source
""",
    notes="temperature-scaled source mixing (p ∝ tokens^0.7): weights, "
    "oversampling factors, expected token budget share; O(sources) model",
)(lambda spark: packing.mix_weights(spark))


_register(
    "text_perplexity_buckets",
    """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents
), counts AS (
  SELECT word, count(*) AS n FROM toks GROUP BY word
), lm AS (
  SELECT word, n / CAST((SELECT sum(n) FROM counts) AS DOUBLE) AS p FROM counts
), ce AS (
  SELECT doc_id, lang, round(-avg(ln(p)), 6) AS cross_entropy
  FROM toks JOIN lm USING (word) GROUP BY doc_id, lang
), b AS (
  SELECT lang, cross_entropy,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY cross_entropy, doc_id) AS tercile
  FROM ce
)
SELECT lang,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(cross_entropy), 6) AS avg_ce,
       round(min(cross_entropy), 6) AS min_ce,
       round(max(cross_entropy), 6) AS max_ce
FROM b GROUP BY lang, bucket ORDER BY lang, bucket
""",
    notes="CCNet head/middle/tail terciles per language over unigram "
    "cross-entropy (Wenzek et al. 1911.00359); per-lang window, ties on "
    "doc_id, CE pre-rounded for portable boundaries",
)(lambda spark: text.perplexity_buckets(spark))


_register(
    "text_quality_classifier",
    """
WITH f AS (
  SELECT doc_id, lang,
         ((length(' ' || lower(text) || ' ')
           - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5.0
        + (length(' ' || lower(text) || ' ')
           - length(replace(' ' || lower(text) || ' ', ' a ', ''))) / 3.0
        + (length(' ' || lower(text) || ' ')
           - length(replace(' ' || lower(text) || ' ', ' of ', ''))) / 4.0
        + (length(' ' || lower(text) || ' ')
           - length(replace(' ' || lower(text) || ' ', ' and ', ''))) / 5.0)
         / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
           AS stop_ratio,
         length(text)
         / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
           AS mean_word_len,
         ln(length(text) + 1.0) AS log_len
  FROM documents
)
SELECT doc_id, lang,
       round(1.0 / (1.0 + exp(-(-6.0 + 12.0 * stop_ratio
                                + 0.55 * mean_word_len
                                + 0.35 * log_len))), 6) AS quality_score,
       CAST(round(1.0 / (1.0 + exp(-(-6.0 + 12.0 * stop_ratio
                                     + 0.55 * mean_word_len
                                     + 0.35 * log_len))), 6) >= 0.5 AS INT)
         AS pred_keep
FROM f
""",
    notes="fasttext-style linear quality scorer: broadcast weight "
    "literals over length-arithmetic features through a sigmoid, one "
    "codegen'd projection; keep decision from the 6dp-rounded score",
)(lambda spark: text.quality_classifier(spark))


_register(
    "emb_hard_negatives",
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec, label AS query_label
  FROM embeddings WHERE vec_id < 5
),
el AS (
  SELECT q.query_id, q.query_label, e.vec_id, e.label,
         CAST(unnest(q.qvec) AS DOUBLE) AS qx,
         CAST(unnest(e.embedding) AS DOUBLE) AS ex
  FROM q JOIN embeddings e ON e.label <> q.query_label
),
sims AS (
  SELECT query_id, query_label, vec_id, label,
         round(sum(qx * ex) / (sqrt(sum(qx * qx)) * sqrt(sum(ex * ex))), 6)
           AS cosine
  FROM el GROUP BY query_id, query_label, vec_id, label
)
SELECT query_id, query_label, vec_id, label, cosine, CAST(rnk AS INT) AS rnk
FROM (
  SELECT query_id, query_label, vec_id, label, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rnk
  FROM sims
) WHERE rnk <= 5
""",
    notes="contrastive hard-negative mining: top-k most-similar with a "
    "DIFFERENT label; broadcast queries, label filter inside the join",
)(lambda spark: similarity.hard_negatives(spark))


_register(
    "dedup_cluster_best_quality",
    _CC_GRAPH_CTE
    + """
, lab AS (
  SELECT comp.node AS doc_id, comp.component AS cluster_id, d.n_chars
  FROM comp JOIN documents d ON d.doc_id = comp.node
), ranked AS (
  SELECT cluster_id, doc_id, n_chars,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rnk,
         count(*) OVER (PARTITION BY cluster_id) AS sz
  FROM lab
)
SELECT cluster_id, doc_id AS kept_doc_id, n_chars AS kept_n_chars,
       CAST(sz - 1 AS BIGINT) AS n_removed
FROM ranked WHERE rnk = 1 ORDER BY cluster_id
""",
    notes="quality-aware survivor selection: keep the LONGEST cluster "
    "member (ties -> lowest id) instead of keep-min-id; per-cluster "
    "top-1 window bounded by the largest cluster",
)(lambda spark: dedup.doc_cluster_quality_survivors(spark))


_register(
    "text_substring_dup_spans",
    """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
), g AS (
  SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS gram
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i
        FROM w WHERE len(ws) >= 8)
), xdoc AS (
  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
  GROUP BY gram HAVING count(*) >= 2
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_positions
  FROM g GROUP BY doc_id
), dup AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_positions
  FROM g WHERE gram IN (SELECT gram FROM xdoc) GROUP BY doc_id
)
SELECT p.doc_id, n_positions,
       coalesce(n_dup_positions, 0) AS n_dup_positions,
       round(coalesce(n_dup_positions, 0) / CAST(n_positions AS DOUBLE), 6)
         AS dup_span_coverage
FROM per_doc p LEFT JOIN dup USING (doc_id) ORDER BY doc_id
""",
    notes="substring-dedup approximation (Lee et al. 2107.06499): "
    "fraction of word-8-gram positions shared verbatim with another "
    "doc; gram-keyed shuffles, per-doc totals map-only",
)(lambda spark: repetition.substring_dup_spans(spark))


_register(
    "text_chunk_windows",
    """
WITH d AS (
  SELECT doc_id, lang, len(string_split(lower(text), ' ')) AS n_words
  FROM documents
), c AS (
  SELECT doc_id, lang, n_words,
         [least(64, n_words - s + 1) FOR s IN range(1, n_words + 1, 48)]
           AS lens
  FROM d
)
SELECT doc_id, lang, CAST(n_words AS INT) AS n_words,
       CAST(len(lens) AS INT) AS n_chunks,
       CAST(list_sum(lens) AS INT) AS total_chunk_words,
       CAST(lens[-1] AS INT) AS last_chunk_words
FROM c
""",
    notes="RAG-style overlapping word-window chunking (size 64, stride "
    "48): sequence+transform inside the row, map-only, no explode",
)(lambda spark: packing.chunk_windows(spark))


_register(
    "text_stratified_topk_sample",
    """
SELECT lang, CAST(rnk AS INT) AS rnk, doc_id, md5(text) AS draw
FROM (
  SELECT lang, doc_id, text,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(text), doc_id) AS rnk
  FROM documents
) WHERE rnk <= 20
ORDER BY lang, rnk
""",
    notes="exact per-stratum quota sample: k smallest content-hash draws "
    "per lang — deterministic sampling-without-replacement with pinned "
    "counts (the eval-set builder); per-lang window, O(k) rank state",
)(lambda spark: sampling.stratified_topk_sample(spark))


_register(
    "ev_debounce_bursts",
    """
WITH g AS (
  SELECT event_type, value,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id, event_type
                 ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 300000000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 300000000
                THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
       round(sum(CASE WHEN gap_us IS NULL OR gap_us > 300000000
                 THEN value ELSE 0 END), 2) AS kept_value
FROM g GROUP BY event_type ORDER BY event_type
""",
    notes="burst-debounce dedup (keep each burst's first event per "
    "user/type, 5-min gap) — the lag rule is the session-start flag; "
    "exact integer-microsecond arithmetic",
)(lambda spark: events_ops.debounce_events(spark))


_register(
    "ev_topk_users_rollup",
    """
SELECT event_type, CAST(rnk AS INT) AS rnk, user_id, est_count
FROM (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS est_count,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY count(*) DESC, user_id) AS rnk
  FROM events GROUP BY event_type, user_id
)
WHERE rnk <= 10
""",
    notes="mergeable frequent-items rollup (approx_top_k accumulate/"
    "combine/estimate): top-k users per event_type from merged daily "
    "states — completes the HLL/KLL/top-k mergeable-summaries trio. "
    "PROMOTED rows-only -> oracled (r11): every (type, day) group at the "
    "tested SFs holds <= ~587 distinct users vs maxItemsTracked=4096, so "
    "each daily sketch is in its EXACT regime, the combine sums exact "
    "counts, and the relational (count desc, user_id) k-cut makes the "
    "output identical to the exact SQL top-k. Past the exact regime "
    "(>4096 distinct per group) the sketch degrades to approximate heavy "
    "hitters and this query returns to rows-only — the boundary is "
    "pinned in tests AND enforced at run time (ADVICE r11): "
    "guard_exact_regime raises ExactRegimeViolation with the measured "
    "margin instead of letting a sweep misread the sketch as divergent",
)(lambda spark: sketches.topk_users_rollup(spark, guard_exact_regime=True))


_register(
    "emb_quantization_error",
    """
WITH d AS (
  SELECT label,
         [CAST(x AS DOUBLE) FOR x IN embedding] AS v,
         greatest(list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) / 127.0,
                  1e-12) AS s
  FROM embeddings
), per_vec AS (
  SELECT label, s,
         list_sum([pow(x - round(x / s) * s, 2) FOR x IN v]) / len(v) AS mse,
         list_max([abs(x - round(x / s) * s) FOR x IN v]) AS max_err
  FROM d
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(avg(mse), 6) AS avg_mse,
       round(max(max_err), 6) AS worst_abs_err,
       round(avg(s), 6) AS avg_scale
FROM per_vec GROUP BY label ORDER BY label
""",
    notes="int8 symmetric quantization audit (per-vector scale, "
    "reconstruct, per-label MSE/worst-err) — in-row array math, "
    "map-only; IEEE division + shared round-half-away rule keeps the "
    "oracle exact",
)(lambda spark: similarity.quantization_error_profile(spark))


# ===========================================================================
# Round-5 additions: rate limiting, robust anomaly screen, paragraph-level
# dedup, Zipf corpus health, perceptual-hash near-dups, PQ compression audit
# ===========================================================================

_register(
    "ev_rate_limit_windows",
    """
WITH f AS (
  SELECT event_type, value, user_id,
         date_trunc('hour', ts) AS bucket,
         row_number() OVER (PARTITION BY user_id, event_type,
                                         date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN rn <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_throttled,
       round(sum(CASE WHEN rn <= 1 THEN value ELSE 0 END), 2) AS allowed_value,
       CAST(count(DISTINCT CASE WHEN rn > 1
                 THEN user_id || '|' || bucket END) AS BIGINT)
         AS n_saturated_cells
FROM f GROUP BY event_type ORDER BY event_type
""",
    notes="fixed-window rate limiting (first event per user/type/hour "
    "allowed, rest throttled) — pure row_number per cell; the token-"
    "bucket variant (sequential state) lives in streaming/; limit knob "
    "calibrated so throttling bites on the driver corpus",
)(lambda spark: events_ops.rate_limit_windows(spark))


_register(
    "ev_user_anomaly_zscore",
    """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
med AS (SELECT user_id, median(n_events) AS med, count(*) AS n_days
        FROM daily GROUP BY user_id),
mad AS (
  SELECT daily.user_id, median(abs(n_events - med)) AS mad
  FROM daily JOIN med USING (user_id) GROUP BY daily.user_id
)
SELECT d.user_id, d.day, d.n_events,
       round(med, 6) AS median_events,
       round(mad, 6) AS mad_events,
       round(abs(d.n_events - med) / (1.4826 * mad), 6) AS robust_z
FROM daily d JOIN med USING (user_id) JOIN mad USING (user_id)
WHERE mad > 0 AND abs(d.n_events - med) / (1.4826 * mad) > 3.0
""",
    notes="robust per-user daily-activity anomalies (median/MAD z > 3) — "
    "median interpolates identically in both engines; MAD=0 users "
    "excluded (z undefined)",
)(lambda spark: events_ops.user_anomaly_zscore(spark))


_register(
    "text_paragraph_dedup",
    """
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
),
b AS (
  SELECT doc_id, i AS block_idx,
         md5(array_to_string(words[(i*20+1):((i+1)*20)], ' ')) AS h
  FROM d, unnest(range(0, CAST(ceil(len(words)/20.0) AS INT))) AS t(i)
  WHERE len(words) > 0
),
r AS (
  SELECT doc_id, block_idx,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, block_idx) AS rn
  FROM b
)
SELECT doc_id, CAST(count(*) AS INT) AS n_blocks,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS INT) AS n_dup_blocks,
       round(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS dup_ratio
FROM r GROUP BY doc_id
HAVING sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) > 0
""",
    notes="CCNet-style paragraph (20-word block) keep-first dedup: "
    "per-doc removal counts; blocks built in-row, one hash-keyed "
    "shuffle + keep-first window",
)(lambda spark: repetition.paragraph_block_dedup(spark))


_register(
    "text_zipf_slope",
    """
WITH w AS (
  SELECT lang, word FROM (
    SELECT lang, unnest(string_split(lower(text), ' ')) AS word
    FROM documents
  ) WHERE word <> ''
),
freq AS (SELECT lang, word, count(*) AS n FROM w GROUP BY lang, word),
ranked AS (
  SELECT lang, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rnk
  FROM freq
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       round(regr_slope(ln(n), ln(rnk)), 6) AS zipf_slope,
       round(regr_r2(ln(n), ln(rnk)), 6) AS zipf_r2
FROM ranked GROUP BY lang ORDER BY lang
""",
    notes="Zipf's-law log-log fit per lang (regr_slope/regr_r2 — "
    "identical closed form both engines; ranks tie-broken on word); "
    "corpus-health screen for template/synthetic text",
)(lambda spark: text.zipf_slope(spark))


_register(
    "media_phash_neardups",
    f"""
WITH {_media_pixel_ctes()},
l3 AS (
  SELECT g, y, x, CAST(sum(b) AS DOUBLE) AS l
  FROM px GROUP BY g, y, x
),
basis AS (
  -- the engine's _dct_basis rows 0..7, snapped to the same 1e-9 grid
  -- with the half-up idiom (r14, ADVICE r13: np.round is half-even,
  -- SQL round half-away; floor(x*1e9 + 0.5) is identical on both, so
  -- only the cos-ulp-at-boundary measure-zero class remains)
  SELECT k.k AS k, i.i AS i,
         floor(1e9 * (CASE WHEN k.k = 0
                           THEN cos(pi() * (2 * i.i + 1) * k.k / 64.0)
                                * sqrt(2.0 / 32.0) / sqrt(2.0)
                           ELSE cos(pi() * (2 * i.i + 1) * k.k / 64.0)
                                * sqrt(2.0 / 32.0) END) + 0.5) / 1e9 AS val
  FROM unnest(generate_series(0, 7)) AS k(k),
       unnest(generate_series(0, 31)) AS i(i)
),
gm AS (  -- stage 1: M[g, i, v] = sum_x L3[i, x] * B[v, x]
  SELECT l.g, l.y AS i, b.k AS v, sum(l.l * b.val) AS m
  FROM l3 l JOIN basis b ON b.i = l.x
  GROUP BY l.g, l.y, b.k
),
gc AS (  -- stage 2: C[g, u, v] = sum_i B[u, i] * M[i, v]
  SELECT m.g, b.k AS u, m.v, sum(b.val * m.m) AS cval
  FROM gm m JOIN basis b ON b.i = m.i
  GROUP BY m.g, b.k, m.v
),
dc AS (  -- per-doc coefficients: group DCT + rank-1 perturbation delta
  SELECT p.media_id, gc.u, gc.v,
         round(1e6 * (gc.cval + bu.val * bv.val * p.delta)) / 1e6 AS cq
  FROM pert p
  JOIN gc ON gc.g = p.g
  JOIN basis bu ON bu.k = gc.u AND bu.i = p.pr
  JOIN basis bv ON bv.k = gc.v AND bv.i = p.pc
),
med AS (SELECT media_id, median(cq) AS med FROM dc GROUP BY media_id),
bits AS (
  SELECT d.media_id, d.u * 8 + d.v AS i,
         CASE WHEN d.cq > m.med THEN 1 ELSE 0 END AS bit
  FROM dc d JOIN med m USING (media_id)
),
hashes AS (
  SELECT media_id,
         CAST(sum(CASE WHEN bit = 0 THEN 0
                       WHEN i = 63 THEN -9223372036854775807 - 1
                       ELSE (CAST(1 AS BIGINT) << i) END) AS BIGINT) AS h
  FROM bits GROUP BY media_id
)
{_HAMMING_PAIRS_SQL}
""",
    notes="perceptual-hash (32x32 luma3 -> DCT-II -> 8x8 low block -> "
    "median bits) near-dups, banded 4x16 join + exact hamming — DCT "
    "robustness + knob monotonicity pinned in tests. PROMOTED rows-only "
    "-> fully oracled (r13): basis entries snap to the 1e-9 grid (libm "
    "cos may differ by an ulp across engines), coefficients to the 1e-6 "
    "grid (matmul-vs-SQL summation drift is ~1e-11 on O(1e4) values), "
    "so median and >-bits are engine-exact; DuckDB replays the DCT per "
    "GROUP in two matmul stages and folds each doc's one-pixel "
    "perturbation in as a rank-1 update B[u,pr]*B[v,pc]*delta "
    "(linearity), then verifies hamming over ALL pairs (pigeonhole "
    "equivalence, same as media_ahash_neardups)",
)(lambda spark: multimodal.image_phash_neardups(spark))


_register(
    "emb_pq_quantization",
    """
WITH RECURSIVE
samp AS (
  SELECT vec_id, embedding,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS sid
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 256
),
sev AS (
  SELECT s.sid,
         CAST((i.i - 1) // (len(s.embedding) // 8) AS INT) AS sub,
         CAST((i.i - 1) % (len(s.embedding) // 8) AS INT) AS t,
         CAST(s.embedding[CAST(i.i AS INT)] AS DOUBLE) AS val
  FROM samp s, unnest(generate_series(1, len(s.embedding))) AS i(i)
),
cent AS (
  SELECT 0 AS it, sub, CAST(sid AS INT) AS c, t, val
  FROM sev WHERE sid < 16
  UNION ALL
  SELECT c0.it + 1, c0.sub, c0.c, c0.t,
         round(1e6 * coalesce(m.mval, c0.val)) / 1e6
  FROM cent c0
  LEFT JOIN (
    SELECT a.sub, a.c, e.t, sum(e.val) / count(*) AS mval
    FROM (
      SELECT sid, sub, c FROM (
        SELECT d.sid, d.sub, d.c,
               row_number() OVER (PARTITION BY d.sid, d.sub
                                  ORDER BY d.d2, d.c) AS rn
        FROM (
          SELECT e2.sid, e2.sub, c2.c,
                 round(1e6 * sum((e2.val - c2.val) * (e2.val - c2.val)))
                   / 1e6 AS d2
          FROM sev e2 JOIN cent c2 ON c2.sub = e2.sub AND c2.t = e2.t
          GROUP BY e2.sid, e2.sub, c2.c
        ) d
      ) r WHERE rn = 1
    ) a
    JOIN sev e ON e.sid = a.sid AND e.sub = a.sub
    GROUP BY a.sub, a.c, e.t
  ) m ON m.sub = c0.sub AND m.c = c0.c AND m.t = c0.t
  WHERE c0.it < 8
),
ev AS (
  SELECT e.vec_id, e.label,
         CAST((i.i - 1) // (len(e.embedding) // 8) AS INT) AS sub,
         CAST((i.i - 1) % (len(e.embedding) // 8) AS INT) AS t,
         CAST(e.embedding[CAST(i.i AS INT)] AS DOUBLE) AS val
  FROM embeddings e, unnest(generate_series(1, len(e.embedding))) AS i(i)
),
codes AS (
  SELECT vec_id, sub, c FROM (
    SELECT d.vec_id, d.sub, d.c,
           row_number() OVER (PARTITION BY d.vec_id, d.sub
                              ORDER BY d.d2, d.c) AS rn
    FROM (
      SELECT e.vec_id, e.sub, c.c,
             round(1e6 * sum((e.val - c.val) * (e.val - c.val))) / 1e6 AS d2
      FROM ev e JOIN cent c ON c.sub = e.sub AND c.t = e.t AND c.it = 8
      GROUP BY e.vec_id, e.sub, c.c
    ) d
  ) r WHERE rn = 1
),
recs AS (
  SELECT e.vec_id, e.label, e.val, c.val AS rec
  FROM ev e
  JOIN codes k ON k.vec_id = e.vec_id AND k.sub = e.sub
  JOIN cent c ON c.it = 8 AND c.sub = e.sub AND c.c = k.c AND c.t = e.t
),
scl AS (
  SELECT vec_id, greatest(max(abs(val)) / 127.0, 1e-12) AS s
  FROM ev GROUP BY vec_id
),
pv AS (
  SELECT r.vec_id, any_value(r.label) AS label,
         round(1e6 * (sum((r.val - r.rec) * (r.val - r.rec)) / 64.0)) / 1e6
           AS mse_pq,
         round(1e6 * (sum((r.val - floor(r.val / sc.s + 0.5) * sc.s)
                          * (r.val - floor(r.val / sc.s + 0.5) * sc.s))
                      / 64.0)) / 1e6 AS mse_int8
  FROM recs r JOIN scl sc USING (vec_id)
  GROUP BY r.vec_id, sc.s
)
SELECT CAST(label AS INT) AS label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(CAST(sum(CAST(round(mse_pq * 1e6) AS BIGINT)) AS DOUBLE)
             / count(*)) / 1e6 AS avg_mse_pq,
       round(CAST(sum(CAST(round(mse_int8 * 1e6) AS BIGINT)) AS DOUBLE)
             / count(*)) / 1e6 AS avg_mse_int8,
       64.0 AS compression_pq,
       4.0 AS compression_int8
FROM pv GROUP BY label ORDER BY label
""",
    notes="product-quantization audit (m=8 subspaces, 16 codes each -> "
    "64x compression) vs int8 scalar baseline per label; codebooks "
    "train on a bounded deterministic sample driver-side (the FAISS "
    "practice), assignment distributed via one mapInPandas pass. "
    "PROMOTED rows-only -> fully oracled (r13, the kmeans_lloyd "
    "quantized-replay recipe per subspace): training snaps each round's "
    "centroids and argmin distances to the 1e-6 grid, the int8 baseline "
    "uses floor(x+0.5) (numpy round is half-even, SQL round half-away — "
    "half-up is identical on both), per-vector MSEs snap to the grid, "
    "and per-label averages are exact integer-moments sums — so the "
    "DuckDB recursive CTE replays all 8 Lloyd rounds x 8 subspaces, the "
    "corpus encode, and both error profiles bit-for-bit; determinism + "
    "knob-monotonicity stay pinned in tests",
)(lambda spark: similarity.pq_quantization_audit(spark))


_register(
    "emb_semantic_decontam",
    """
WITH test AS (
  SELECT vec_id AS test_id, embedding AS tvec, label AS test_label
  FROM embeddings WHERE vec_id % 50 = 0
),
el AS (
  SELECT e.vec_id, e.label, t.test_id, t.test_label,
         CAST(unnest(e.embedding) AS DOUBLE) AS ex,
         CAST(unnest(t.tvec) AS DOUBLE) AS tx
  FROM embeddings e JOIN test t ON e.vec_id % 50 <> 0
),
sims AS (
  SELECT vec_id, label, test_id, test_label,
         round(sum(ex * tx) / (sqrt(sum(ex * ex)) * sqrt(sum(tx * tx))), 6)
           AS cosine
  FROM el GROUP BY vec_id, label, test_id, test_label
),
best AS (
  SELECT vec_id, label, test_id AS closest_test_id, cosine,
         label = test_label AS label_match,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, test_id) AS rn
  FROM sims
)
SELECT vec_id, label, closest_test_id, cosine, label_match
FROM best WHERE rn = 1 AND cosine >= 0.35 ORDER BY vec_id
""",
    notes="embedding-level decontamination: training vectors whose max "
    "cosine vs the held-out set (vec_id % 50 = 0) reaches 0.35 — the "
    "semantic sibling of the n-gram decontam pass; broadcast test set, "
    "corpus never shuffles, argmax as partial-aggregable struct-max",
)(lambda spark: similarity.semantic_decontamination(spark))


_register(
    "dedup_graph_triangles",
    """
WITH keys AS (
  SELECT doc_id, 'p:' || md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS key
  FROM documents
  UNION ALL
  SELECT doc_id, 'm:' || md5(array_to_string(string_split(text, ' ')[3:8], ' ')) AS key
  FROM documents
), e0 AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM keys x JOIN keys y USING (key)
  WHERE x.doc_id < y.doc_id
), deg AS (
  SELECT node, count(*) AS degree
  FROM (SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0)
  GROUP BY node
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e0 e1
  JOIN e0 e2 ON e2.a = e1.b
  JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
), tcnt AS (
  SELECT node, count(*) AS n_triangles
  FROM (SELECT x AS node FROM tri
        UNION ALL SELECT y AS node FROM tri
        UNION ALL SELECT z AS node FROM tri)
  GROUP BY node
)
SELECT deg.node AS doc_id,
       CAST(degree AS BIGINT) AS degree,
       CAST(coalesce(n_triangles, 0) AS BIGINT) AS n_triangles,
       round(CASE WHEN degree >= 2
                  THEN 2.0 * coalesce(n_triangles, 0) / (degree * (degree - 1.0))
                  ELSE 0.0 END, 6) AS clustering_coeff
FROM deg LEFT JOIN tcnt USING (node)
ORDER BY doc_id
""",
    notes="triangle count + local clustering coefficient over the "
    "blocking near-dup graph (degree-ordered compact-forward "
    "orientation — each triangle found once at its min-rank vertex, "
    "wedge work bounded by out-degree <= O(sqrt(m)) on hubs); the "
    "oracle enumerates id-ordered triangles, which is the same "
    "triangle SET",
)(lambda spark: dedup.doc_graph_triangles(spark))


def _ewma_oracle(alpha: float = 0.4, horizon: int = 8, top_n: int = 50) -> str:
    # weight literals emitted with full repr precision — round-trip exact,
    # so DuckDB computes bit-identical doubles to the Spark expression.
    # Lag j carries alpha*(1-alpha)^(j-1); the OLDEST available lag takes
    # the full residual (1-alpha)^(j-1) (recursion restarted there), so
    # weights sum to exactly 1 — same rule as events_ops.ewma_deviation.
    lag_cols = ",\n         ".join(
        f"lag(value, {j}) OVER w AS l{j}" for j in range(1, horizon + 1)
    )
    terms = []
    for j in range(1, horizon + 1):
        head_w = alpha * (1.0 - alpha) ** (j - 1)
        rest_w = (1.0 - alpha) ** (j - 1)
        if j < horizon:
            terms.append(
                f"CASE WHEN l{j + 1} IS NOT NULL THEN l{j} * {head_w!r} "
                f"WHEN l{j} IS NOT NULL THEN l{j} * {rest_w!r} ELSE 0.0 END"
            )
        else:
            terms.append(
                f"CASE WHEN l{j} IS NOT NULL THEN l{j} * {rest_w!r} ELSE 0.0 END"
            )
    num = " + ".join(terms)
    return f"""
WITH lagged AS (
  SELECT event_id, user_id, event_type, value,
         {lag_cols}
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), scored AS (
  SELECT event_id, user_id, event_type,
         round(value, 6) AS value,
         round({num}, 6) AS ewma_prev,
         round(abs(value - ({num})), 6) AS deviation
  FROM lagged
  WHERE l1 IS NOT NULL
)
SELECT * FROM scored ORDER BY deviation DESC, event_id LIMIT {top_n}
"""


_register(
    "ev_ewma_deviation",
    _ewma_oracle(),
    notes="finite-horizon EWMA change detection: deviation of each value "
    "from the time-decayed average of the user's previous 8 values; the "
    "oldest available lag takes the residual weight, so the truncation "
    "is EXACT under 8 priors and tail-bounded beyond (pinned vs the "
    "streaming recursion); fixed lag() bundle over one user-keyed "
    "window, top-k via TakeOrderedAndProject",
)(lambda spark: events_ops.ewma_deviation(spark))


def _bpe_ctes(rounds: int = 6, passes: int = 3) -> str:
    """Generated R-round BPE-training CTE chain: each round is a
    pair-count CTE + argmax CTE + merge CTE; the merge is the same fixed
    replace()-chain the Spark operator applies, so both engines produce
    identical state including the degenerate-run edge cases. The `word`
    column rides through the rounds so evals can join final vocab state
    back to per-language frequencies."""

    def rep_chain(expr: str) -> str:
        for _ in range(passes):
            expr = (
                f"replace({expr}, ' ' || pair || ' ', "
                f"' ' || replace(pair, ' ', '') || ' ')"
            )
        return expr

    parts = [
        """
WITH w0 AS (
  SELECT word, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq,
         CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
  WHERE length(word) >= 2
  GROUP BY word
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", p{r} AS (
  SELECT toks[i] || ' ' || toks[i + 1] AS pair, freq
  FROM (SELECT toks, freq, unnest(range(1, len(toks))) AS i
        FROM (SELECT string_split(trim(seq), ' ') AS toks, freq FROM w{r - 1}))
), b{r} AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS total
  FROM p{r} GROUP BY pair ORDER BY total DESC, pair LIMIT 1
), w{r} AS (
  SELECT word, {rep_chain("seq")} AS seq, freq FROM w{r - 1}, b{r}
)"""
        )
    return "".join(parts)


def _bpe_oracle(rounds: int = 6, passes: int = 3) -> str:
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INT) AS round, pair, "
        f"replace(pair, ' ', '') AS new_symbol, total FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return _bpe_ctes(rounds, passes) + "\n" + selects + "\nORDER BY round"


def _bpe_fertility_oracle(rounds: int = 6, passes: int = 3) -> str:
    return (
        _bpe_ctes(rounds, passes)
        + f"""
, per_lang AS (
  SELECT lang, word, CAST(count(*) AS BIGINT) AS freq_l
  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS word
        FROM documents)
  WHERE length(word) >= 2
  GROUP BY lang, word
), vocab AS (
  SELECT word, len(string_split(trim(seq), ' ')) AS n_tokens FROM w{rounds}
)
SELECT lang,
       CAST(sum(freq_l) AS BIGINT) AS n_words,
       CAST(sum(freq_l * n_tokens) AS BIGINT) AS total_tokens,
       round(sum(freq_l * n_tokens) * 1.0 / sum(freq_l), 6) AS fertility,
       round(sum(freq_l * length(word)) * 1.0 / sum(freq_l * n_tokens), 6)
         AS chars_per_token
FROM per_lang JOIN vocab USING (word)
GROUP BY lang ORDER BY lang
"""
    )


_register(
    "text_bpe_train",
    _bpe_oracle(),
    notes="iterative BPE training (6 merge rounds): one corpus-sized "
    "word-count up front, then every round runs on the DISTINCT-WORD "
    "table (vocab-sized working set — the industrial tokenizer-trainer "
    "shape); argmax is one collected row per round, merges are JVM "
    "replace() chains; oracle replays all 6 rounds as generated CTEs",
)(lambda spark: text.bpe_train_merges(spark))


_register(
    "text_group_holdout_split",
    _CC_GRAPH_CTE
    + """
, docs2 AS (
  SELECT d.doc_id, d.n_chars, d.text,
         coalesce(c.component, d.doc_id) AS group_key
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
), assigned AS (
  SELECT 'naive_doc_hash' AS mode, doc_id, n_chars, group_key,
         CASE WHEN substring(md5(text), 1, 1) <= 'c'
              THEN 'train' ELSE 'test' END AS split
  FROM docs2
  UNION ALL
  SELECT 'grouped' AS mode, doc_id, n_chars, group_key,
         CASE WHEN substring(md5(CAST(group_key AS VARCHAR)), 1, 1) <= 'c'
              THEN 'train' ELSE 'test' END AS split
  FROM docs2
), leaky AS (
  SELECT mode, group_key, count(DISTINCT split) > 1 AS is_leaky
  FROM assigned GROUP BY mode, group_key
)
SELECT mode, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(count(DISTINCT a.group_key) AS BIGINT) AS n_groups,
       CAST(count(DISTINCT CASE WHEN is_leaky THEN a.group_key END) AS BIGINT)
         AS n_leaky_groups
FROM assigned a JOIN leaky USING (mode, group_key)
GROUP BY mode, split
ORDER BY mode, split
""",
    notes="leakage-safe split: docs inherit their near-dup cluster's "
    "content-hash split (CC label table shared with the dedup pipeline), "
    "compared against the naive doc-hash policy at (mode, split) grain — "
    "leaky-group counts are COMPUTED, so the oracle value-checks that "
    "grouped mode's leakage is structurally zero while naive's is not",
)(lambda spark: sampling.group_holdout_split(spark))


_register(
    "dedup_ngram_containment",
    """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(ws) - 2),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
  FROM t
),
pairs AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         round(len(list_intersect(a.grams, b.grams)) * 1.0
               / least(len(a.grams), len(b.grams)), 6) AS containment,
         round(len(list_intersect(a.grams, b.grams)) * 1.0
               / len(list_distinct(list_concat(a.grams, b.grams))), 6)
           AS jaccard
  FROM g a JOIN g b
    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5
  WHERE least(len(a.grams), len(b.grams)) > 0
)
SELECT doc_id_a, doc_id_b, containment, jaccard
FROM pairs WHERE containment >= 0.5
""",
    notes="asymmetric near-dup: Broder containment |A∩B|/min(|A|,|B|) "
    "catches subset duplication Jaccard misses (short doc embedded in a "
    "long one scores 1.0 vs |B|/|A|); both measures reported so "
    "asymmetric pairs are visible; same bounded block join as the "
    "Jaccard form",
)(lambda spark: dedup.ngram_containment_pairs(spark))


_register(
    "text_bpe_fertility",
    _bpe_fertility_oracle(),
    notes="tokenizer fairness audit: per-language fertility (tokens/"
    "word) and chars/token after the 6 trained merges; vocab state "
    "joins back to per-(lang, word) frequencies — vocab-sized join, "
    "corpus-sized work is the two word-count shuffles the trainer "
    "already does",
)(lambda spark: text.bpe_fertility(spark))


_register(
    "ev_hll_overlap",
    None,
    notes="sketch-based audience-overlap matrix: |A∩B| by inclusion-"
    "exclusion over per-type HLL sketches (hll_union is lossless on "
    "registers); pair math is sketch-count-sized, never event-sized; "
    "estimates pinned against exact countDistinct truth in pytest -> "
    "rows-only; the compounded accuracy contract is oracled by "
    "ev_hll_overlap_bound",
)(lambda spark: sketches.hll_audience_overlap(spark))


_register(
    "ev_hll_overlap_bound",
    """
WITH t AS (SELECT DISTINCT event_type FROM events),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM t a JOIN t b ON a.event_type < b.event_type
),
u AS (SELECT DISTINCT event_type, user_id FROM events),
ovl AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS c
  FROM u a JOIN u b ON a.user_id = b.user_id
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b,
       CAST(coalesce(o.c, 0) AS BIGINT) AS exact_overlap,
       TRUE AS within_bound
FROM pairs p LEFT JOIN ovl o USING (type_a, type_b)
ORDER BY 1, 2
""",
    notes="oracled accuracy-contract audit for the rows-only "
    "inclusion-exclusion overlap (completes the sketch bound-audit "
    "family): |est - exact| <= 4*rse*(|A|+|B|+|A u B|) + 16 per pair — "
    "the compounded-error caveat made checkable; the exact "
    "intersection anchors the oracle as integers",
)(lambda spark: sketches.hll_overlap_error_bound(spark))


_register(
    "text_typo_variants",
    """
WITH vocab AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
  WHERE length(word) >= 3
  GROUP BY word
), keys AS (
  SELECT word, n, unnest(list_distinct(list_concat(
           [word],
           list_transform(range(1, length(word) + 1),
             i -> substr(word, 1, i - 1)
                  || substr(word, i + 1, length(word)))))) AS key
  FROM vocab
)
SELECT DISTINCT a.word AS canonical, b.word AS variant,
       a.n AS n_canonical, b.n AS n_variant
FROM keys a JOIN keys b USING (key)
WHERE a.word <> b.word
  AND levenshtein(a.word, b.word) = 1
  AND a.n >= 5 * b.n
  AND a.n >= 5
ORDER BY canonical, variant
""",
    notes="OCR/typo noise screen: SymSpell deletion-neighborhood "
    "blocking (recall 1.0 for edit distance 1, O(word_len) keys per "
    "vocab type, no all-pairs) + exact levenshtein verify inside "
    "buckets; vocab-sized after one word-count shuffle",
)(lambda spark: text.typo_variant_pairs(spark))


_register(
    "rel_l_diversity",
    """
WITH counts AS (
  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
), withp AS (
  SELECT c_nationkey, n,
         n * 1.0 / sum(n) OVER (PARTITION BY c_nationkey) AS p
  FROM counts
)
SELECT c_nationkey,
       CAST(sum(n) AS BIGINT) AS class_size,
       CAST(count(*) AS BIGINT) AS distinct_l,
       round(exp(-sum(p * ln(p))), 6) AS entropy_l,
       count(*) < 3 AS below_l
FROM withp GROUP BY c_nationkey ORDER BY c_nationkey
""",
    notes="l-diversity audit (homogeneity-attack check k-anonymity "
    "misses): distinct-l + entropy-l (effective number of sensitive "
    "values) per c_nationkey class over c_mktsegment; two map-side-"
    "combined shuffles, window runs on the |QI|x|sensitive| count table",
)(lambda spark: relational.l_diversity_audit(spark))


_register(
    "dedup_lsh_tuning",
    """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(ws) - 2),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
  FROM t
),
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
keys AS (
  SELECT doc_id, 'p:' || md5(array_to_string(w[1:5], ' ')) AS key FROM words
  UNION ALL
  SELECT doc_id, 'm:' || md5(array_to_string(w[3:8], ' ')) AS key FROM words
),
e0 AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM keys x JOIN keys y USING (key)
  WHERE x.doc_id < y.doc_id
),
truth AS (
  SELECT j FROM (
    SELECT len(list_intersect(ga.grams, gb.grams)) * 1.0
           / len(list_distinct(list_concat(ga.grams, gb.grams))) AS j
    FROM e0
    JOIN g ga ON ga.doc_id = e0.a
    JOIN g gb ON gb.doc_id = e0.b
  ) WHERE j >= 0.7
),
cfg(bands, rows_per_band) AS (VALUES (8, 8), (16, 4), (32, 2))
SELECT CAST(bands AS INT) AS bands,
       CAST(rows_per_band AS INT) AS rows_per_band,
       (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
       round((SELECT avg(1.0 - pow(1.0 - pow(j, rows_per_band), bands))
              FROM truth) * 1e6) / 1e6 AS expected_recall,
       TRUE AS within_bound
FROM cfg ORDER BY bands
""",
    notes="MinHash banding tuning curve (dedup twin of the ANN curve): "
    "candidate recall vs exact block-sample Jaccard truth per (bands, "
    "rows_per_band) split of ONE signature pass. PROMOTED rows-only -> "
    "oracled (r12, the analytic-curve + accuracy-contract pattern): "
    "the oracle recomputes the blocking-edge truth set (md5 word-slice "
    "keys, exact word-3-gram jaccard >= 0.7 — all SQL-portable) and "
    "the banding theory curve avg(1 - (1 - j^r)^b) over it; the "
    "measured xxhash banding recall signs in as a within-0.1 boolean "
    "(gaps <= 0.002 at all three SFs). Candidate volume + raw recall "
    "stay in the operator's full output and the perturbation tests",
)(
    lambda spark: dedup.lsh_band_tuning(spark).select(
        "bands", "rows_per_band", "n_truth", "expected_recall",
        "within_bound",
    )
)


_register(
    "rel_benford_audit",
    """
WITH digits AS (
  SELECT CAST(substring(
           regexp_replace(CAST(abs(o_totalprice) AS VARCHAR), '[0.]', '', 'g'),
           1, 1) AS INT) AS digit
  FROM orders
), by_digit AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n_orders
  FROM digits WHERE digit BETWEEN 1 AND 9 GROUP BY digit
), tot AS (
  SELECT CAST(sum(n_orders) AS DOUBLE) AS n_total FROM by_digit
)
SELECT digit, n_orders,
       round(n_orders / n_total, 6) AS observed_share,
       round(log10(1.0 + 1.0 / digit), 6) AS benford_share,
       round(pow(n_orders / n_total - log10(1.0 + 1.0 / digit), 2)
             / log10(1.0 + 1.0 / digit) * n_total, 6) AS chi2_term
FROM by_digit, tot ORDER BY digit
""",
    notes="Benford's-law first-digit forensic over order totals: "
    "observed vs log10(1+1/d) expected share + chi-square terms; "
    "leading digit via per-char [0.] strip (no zero-width regex — "
    "Java/RE2 divergence), 9-key groupBy, scalar total broadcast back",
)(lambda spark: relational.benford_audit(spark))


def _autocorr_oracle(max_lag: int = 7) -> str:
    # calendar self-join lags (b.day + k = a.day) — mirrors the Spark
    # plan: no unpartitioned window, correct alignment across gaps
    selects = "\nUNION ALL\n".join(
        f"SELECT {k} AS lag_days, CAST(count(*) AS BIGINT) AS n_points, "
        f"round(corr(a.n, b.n), 6) AS autocorr "
        f"FROM daily a JOIN daily b ON a.day = b.day + INTERVAL {k} DAY"
        for k in range(1, max_lag + 1)
    )
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1
)
{selects}
ORDER BY lag_days
"""


_register(
    "ev_daily_autocorr",
    _autocorr_oracle(),
    notes="lag-1..7 Pearson autocorrelation of the daily event-count "
    "series (weekly-seasonality diagnostic); series is O(days) rows "
    "after one date-keyed count shuffle, corr() built-in both engines",
)(lambda spark: events_ops.daily_autocorrelation(spark))


_CORENESS_FIXPOINT_ORACLE = """
WITH RECURSIVE keys AS (
  SELECT doc_id, 'p:' || md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS key
  FROM documents
  UNION ALL
  SELECT doc_id, 'm:' || md5(array_to_string(string_split(text, ' ')[3:8], ' ')) AS key
  FROM documents
), e0 AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM keys x JOIN keys y USING (key)
  WHERE x.doc_id < y.doc_id
), e AS (
  SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b AS u, a AS v FROM e0
),
state AS (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS c, 0 AS it FROM e GROUP BY u
  UNION ALL
  SELECT nbr.node, least(min(s2.c), max(least(nbr.rn, nbr.nc))) AS c,
         min(nbr.it) + 1
  FROM (
    SELECT s.node, s.c, s.it, sv.c AS nc,
           row_number() OVER (PARTITION BY s.node
                              ORDER BY sv.c DESC, e.v) AS rn
    FROM state s
    JOIN e ON e.u = s.node
    JOIN state sv ON sv.node = e.v
  ) nbr
  JOIN state s2 ON s2.node = nbr.node
  WHERE nbr.it < 50
  GROUP BY nbr.node
)
SELECT node AS doc_id, c AS coreness FROM state WHERE it = 50 ORDER BY doc_id
"""


_register(
    "dedup_graph_coreness",
    _CORENESS_FIXPOINT_ORACLE,
    notes="k-core decomposition of the blocking near-dup graph via the "
    "distributed h-index fixpoint (Lu et al. 2016) — boilerplate-"
    "nucleus vs fringe ranking; per-round work is one node-keyed join "
    "+ one degree-bounded window. PROMOTED rows-only -> fully oracled "
    "(r11): the fixpoint replays as a DuckDB RECURSIVE CTE running the "
    "identical ALL-INTEGER h-index update for a fixed 50 rounds (the "
    "Spark max_iter cap; the update is idempotent past the fixpoint, "
    "so the round-50 state IS the converged coreness). Exact peeling "
    "reference stays in pytest; the 1-round shadow "
    "dedup_coreness_contraction remains as the cheap per-round check",
)(lambda spark: dedup.doc_graph_coreness(spark))


_register(
    "dedup_coreness_contraction",
    """
WITH keys AS (
  SELECT doc_id, 'p:' || md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS key
  FROM documents
  UNION ALL
  SELECT doc_id, 'm:' || md5(array_to_string(string_split(text, ' ')[3:8], ' ')) AS key
  FROM documents
), e0 AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM keys x JOIN keys y USING (key)
  WHERE x.doc_id < y.doc_id
), e AS (
  SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b AS u, a AS v FROM e0
),
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS degree FROM e GROUP BY u),
nbr AS (
  SELECT e.u AS node, d.degree AS nc,
         row_number() OVER (PARTITION BY e.u ORDER BY d.degree DESC, e.v)
           AS rn
  FROM e JOIN deg d ON d.node = e.v
),
h AS (SELECT node, max(least(rn, nc)) AS h FROM nbr GROUP BY node)
SELECT deg.node AS doc_id, deg.degree,
       CAST(least(deg.degree, h.h) AS BIGINT) AS h1
FROM deg JOIN h USING (node) ORDER BY doc_id
""",
    notes="1-round h-index shadow of dedup_graph_coreness (the third "
    "contraction shadow next to pagerank/k-means, and the strongest: "
    "h1 = min(degree, h-index of neighbor degrees) is ALL-INTEGER, so "
    "the DuckDB twin matches exactly with no rounding tolerance; the "
    "h-index fold max(least(rank, value)) is tie-order-invariant, and "
    "coreness <= h1 <= degree pins the fixpoint direction in pytest)",
)(lambda spark: dedup.coreness_contraction(spark))


_register(
    "ev_cuped_readout",
    """
WITH bounds AS (
  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) / 2 AS cut_us FROM events
), per_user AS (
  SELECT user_id,
         round(sum(CASE WHEN epoch_us(ts) < cut_us THEN value ELSE 0.0 END), 6) AS x,
         round(sum(CASE WHEN epoch_us(ts) >= cut_us THEN value ELSE 0.0 END), 6) AS y
  FROM events, bounds GROUP BY user_id
), stats AS (
  SELECT round(covar_samp(x, y) / var_samp(x), 6) AS theta,
         round(avg(x), 6) AS xbar
  FROM per_user
), adjusted AS (
  SELECT CAST(user_id % 2 AS INT) AS variant, y,
         y - theta * (x - xbar) AS y_adj
  FROM per_user, stats
)
SELECT variant,
       CAST(count(*) AS BIGINT) AS n_users,
       round(avg(y), 6) AS mean_y,
       round(avg(y_adj), 6) AS mean_y_cuped,
       round(1.0 - var_samp(y_adj) / var_samp(y), 6) AS var_reduction
FROM adjusted GROUP BY variant ORDER BY variant
""",
    notes="CUPED variance reduction (Deng et al. WSDM'13): per-user "
    "pre-period covariate strips explained variance from the "
    "experiment metric without biasing the mean; one user-keyed "
    "rollup + scalar theta broadcast, 2-row readout; X/Y/theta/xbar "
    "rounded 6dp pre-adjustment for cross-engine determinism",
)(lambda spark: events_ops.cuped_experiment_readout(spark))


_register(
    "rel_snapshot_diff",
    """
WITH v1 AS (
  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS price
  FROM orders
), v2 AS (
  SELECT key,
         CASE WHEN key % 10 = 0 THEN 'U' ELSE status END AS status,
         CASE WHEN key % 10 = 0 THEN price + 100.0 ELSE price END AS price
  FROM v1 WHERE key % 1000 <> 7
  UNION ALL
  SELECT key + 30000000 AS key, 'N' AS status, 1000.0 AS price
  FROM v1 WHERE key % 100 = 0
), joined AS (
  SELECT a.key AS akey, b.key AS bkey, a.status AS astatus, b.status AS bstatus,
         a.price AS aprice, b.price AS bprice
  FROM v1 a FULL OUTER JOIN v2 b ON a.key = b.key
)
SELECT CASE WHEN bkey IS NULL THEN 'deleted'
            WHEN akey IS NULL THEN 'inserted'
            WHEN astatus = bstatus AND aprice = bprice THEN 'unchanged'
            ELSE 'updated' END AS change,
       CAST(count(*) AS BIGINT) AS n_keys,
       round(sum(coalesce(bprice, 0.0) - coalesce(aprice, 0.0)), 2)
         AS price_delta
FROM joined GROUP BY 1 ORDER BY 1
""",
    notes="dataset-release diff: unchanged/updated/deleted/inserted "
    "classes + value deltas via one full-outer key join (the single "
    "shuffle; bucketed storage makes it shuffle-free); v2 derives "
    "deterministically with the merge_upsert mutation pattern + "
    "deletions",
)(lambda spark: relational.snapshot_diff(spark))


_register(
    "dedup_minhash_estimate",
    """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(ws) - 2),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
  FROM t
),
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
keys AS (
  SELECT doc_id, 'p:' || md5(array_to_string(w[1:5], ' ')) AS key FROM words
  UNION ALL
  SELECT doc_id, 'm:' || md5(array_to_string(w[3:8], ' ')) AS key FROM words
),
e0 AS (
  SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
  FROM keys x JOIN keys y USING (key)
  WHERE x.doc_id < y.doc_id
)
SELECT e0.doc_id_a, e0.doc_id_b,
       round(len(list_intersect(ga.grams, gb.grams)) * 1.0
             / len(list_distinct(list_concat(ga.grams, gb.grams))), 6)
         AS exact_jaccard,
       TRUE AS within_bound
FROM e0
JOIN g ga ON ga.doc_id = e0.doc_id_a
JOIN g gb ON gb.doc_id = e0.doc_id_b
ORDER BY doc_id_a, doc_id_b
""",
    notes="signature-calibration audit: MinHash-estimated Jaccard "
    "(agreeing positions / 64, the unbiased estimator with var "
    "j(1-j)/k) vs exact word-3-gram Jaccard per candidate pair. "
    "PROMOTED rows-only -> oracled (r12, accuracy-contract pattern): "
    "the audited family moved to the SQL-portable md5 blocking-edge "
    "pairs, and |est - exact| <= 5*sigma + 1/64 signs in as a boolean "
    "per pair (measured worst margin -0.016 or better at all three "
    "SFs); the raw estimate/error stay in the operator's full output "
    "for the pytest mean-error pin",
)(
    lambda spark: dedup.minhash_estimate_audit(spark).select(
        "doc_id_a", "doc_id_b", "exact_jaccard", "within_bound"
    )
)


_SCORE_CTE = """
WITH f AS (
  SELECT doc_id, source,
         ((length(' ' || lower(text) || ' ')
           - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5.0
        + (length(' ' || lower(text) || ' ')
           - length(replace(' ' || lower(text) || ' ', ' a ', ''))) / 3.0
        + (length(' ' || lower(text) || ' ')
           - length(replace(' ' || lower(text) || ' ', ' of ', ''))) / 4.0
        + (length(' ' || lower(text) || ' ')
           - length(replace(' ' || lower(text) || ' ', ' and ', ''))) / 5.0)
         / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
           AS stop_ratio,
         length(text)
         / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
           AS mean_word_len,
         ln(length(text) + 1.0) AS log_len
  FROM documents
), scored AS (
  SELECT doc_id, source,
         round(1.0 / (1.0 + exp(-(-6.0 + 12.0 * stop_ratio
                                  + 0.55 * mean_word_len
                                  + 0.35 * log_len))), 6) AS quality_score
  FROM f
)"""


_register(
    "text_score_normalization",
    _SCORE_CTE
    + """
, brk AS (
  SELECT quantile_cont(quality_score, 0.2) AS p20,
         quantile_cont(quality_score, 0.4) AS p40,
         quantile_cont(quality_score, 0.6) AS p60,
         quantile_cont(quality_score, 0.8) AS p80
  FROM scored
), ranked AS (
  SELECT source, quality_score,
         ntile(5) OVER (PARTITION BY source
                        ORDER BY quality_score, doc_id) AS local_q,
         CASE WHEN quality_score <= p20 THEN 1
              WHEN quality_score <= p40 THEN 2
              WHEN quality_score <= p60 THEN 3
              WHEN quality_score <= p80 THEN 4
              ELSE 5 END AS global_q
  FROM scored, brk
)
SELECT source, CAST(local_q AS INT) AS local_q,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(quality_score), 6) AS mean_score,
       round(avg(global_q), 6) AS mean_global_q
FROM ranked GROUP BY source, local_q ORDER BY source, local_q
""",
    notes="cross-source score calibration: within-source quintile "
    "(ntile, source-partitioned) vs the GLOBAL quintile from exact-"
    "percentile breakpoints broadcast as literals — no global window "
    "anywhere; divergence per quintile = source mis-calibration, the "
    "signal for rank-based quota selection",
)(lambda spark: text.score_quantile_normalization(spark))


_register(
    "emb_label_noise",
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec, label AS query_label
  FROM embeddings
),
el AS (
  SELECT q.query_id, q.query_label, e.vec_id, e.label,
         CAST(unnest(q.qvec) AS DOUBLE) AS qx,
         CAST(unnest(e.embedding) AS DOUBLE) AS ex
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
),
sims AS (
  SELECT query_id, query_label, vec_id, label,
         round(sum(qx * ex) / (sqrt(sum(qx * qx)) * sqrt(sum(ex * ex))), 6)
           AS cosine
  FROM el GROUP BY query_id, query_label, vec_id, label
),
nb AS (
  SELECT query_id, query_label, label
  FROM (SELECT query_id, query_label, label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rnk
        FROM sims)
  WHERE rnk <= 7
),
cnt AS (
  SELECT query_id, query_label, label, count(*) AS n
  FROM nb GROUP BY query_id, query_label, label
),
maj AS (
  SELECT query_id, label AS suggested_label
  FROM (SELECT query_id, label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY n DESC, label) AS rn
        FROM cnt)
  WHERE rn = 1
),
dis AS (
  SELECT query_id, query_label,
         CAST(sum(CASE WHEN label <> query_label THEN n ELSE 0 END) AS INT)
           AS n_disagree
  FROM cnt GROUP BY query_id, query_label
)
SELECT dis.query_id AS vec_id, dis.query_label AS label,
       n_disagree, maj.suggested_label
FROM dis JOIN maj USING (query_id)
WHERE n_disagree >= 5
ORDER BY vec_id
""",
    notes="mislabel screen (k-NN disagreement, the confident-learning "
    "core): vectors whose 7 nearest neighbors overwhelmingly carry a "
    "different label, with the neighbor-majority label as suggested "
    "correction; exact all-queries form is the oracle-checkable "
    "reference — at 100 TB neighbors come from the ANN candidate "
    "generation",
)(lambda spark: similarity.label_noise_screen(spark))


_register(
    "ev_power_analysis",
    """
WITH bounds AS (
  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) / 2 AS cut_us FROM events
), per_user AS (
  SELECT user_id,
         round(sum(CASE WHEN epoch_us(ts) < cut_us THEN value ELSE 0.0 END), 6) AS x,
         round(sum(CASE WHEN epoch_us(ts) >= cut_us THEN value ELSE 0.0 END), 6) AS y
  FROM events, bounds GROUP BY user_id
), stats AS (
  SELECT round(var_samp(y), 6) AS var_y,
         round(pow(corr(x, y), 2), 6) AS r2
  FROM per_user
), sizes AS (
  SELECT unnest([100, 500, 1000, 5000, 10000]) AS n_per_variant
)
SELECT CAST(n_per_variant AS BIGINT) AS n_per_variant, var_y,
       r2 AS cuped_r2,
       round(2.801585 * sqrt(2.0 * var_y / n_per_variant), 6) AS mde,
       round(2.801585 * sqrt(2.0 * var_y * (1.0 - r2) / n_per_variant), 6)
         AS mde_cuped
FROM sizes, stats ORDER BY n_per_variant
""",
    notes="experiment power analysis: minimum detectable effect at 80% "
    "power / alpha .05 across a sample-size grid, raw and CUPED-"
    "scaled by observed 1-corr(X,Y)^2; one user rollup + scalar "
    "stats over a 5-row literal grid",
)(lambda spark: events_ops.experiment_power_analysis(spark))


_register(
    "text_score_psi",
    _SCORE_CTE
    + """
, brk AS (
  SELECT quantile_cont(quality_score, 0.1) AS p10,
         quantile_cont(quality_score, 0.2) AS p20,
         quantile_cont(quality_score, 0.3) AS p30,
         quantile_cont(quality_score, 0.4) AS p40,
         quantile_cont(quality_score, 0.5) AS p50,
         quantile_cont(quality_score, 0.6) AS p60,
         quantile_cont(quality_score, 0.7) AS p70,
         quantile_cont(quality_score, 0.8) AS p80,
         quantile_cont(quality_score, 0.9) AS p90
  FROM scored
), assigned AS (
  SELECT source,
         CASE WHEN quality_score <= p10 THEN 1
              WHEN quality_score <= p20 THEN 2
              WHEN quality_score <= p30 THEN 3
              WHEN quality_score <= p40 THEN 4
              WHEN quality_score <= p50 THEN 5
              WHEN quality_score <= p60 THEN 6
              WHEN quality_score <= p70 THEN 7
              WHEN quality_score <= p80 THEN 8
              WHEN quality_score <= p90 THEN 9
              ELSE 10 END AS decile
  FROM scored, brk
), counts AS (
  SELECT source, decile, count(*) AS n FROM assigned GROUP BY source, decile
), totals AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS n_docs FROM counts GROUP BY source
), filled AS (
  SELECT t.source, t.n_docs, d.decile, coalesce(c.n, 0) AS n
  FROM totals t
  CROSS JOIN (SELECT unnest(range(1, 11)) AS decile) d
  LEFT JOIN counts c ON c.source = t.source AND c.decile = d.decile
)
SELECT source, n_docs,
       round(sum(((n + 0.5) / (n_docs + 5.0) - 0.1)
                 * ln(((n + 0.5) / (n_docs + 5.0)) / 0.1)), 6) AS psi,
       round(sum(((n + 0.5) / (n_docs + 5.0) - 0.1)
                 * ln(((n + 0.5) / (n_docs + 5.0)) / 0.1)), 6)
         > greatest(0.2, 27.0 / n_docs) AS drifted
FROM filled GROUP BY source, n_docs ORDER BY source
""",
    notes="population stability index per source vs the pooled corpus "
    "(uniform reference by construction of global deciles): the "
    "industry drift metric with its conventional 0.2 flag; Laplace-"
    "smoothed shares, exact-percentile breakpoints as literals, "
    "O(sources) readout",
)(lambda spark: text.score_psi_by_source(spark))


_register(
    "text_dsir_weights",
    """
WITH toks AS (
  SELECT doc_id, lang,
         (lang = 'en' AND n_chars >= 200) AS is_target,
         unnest(string_split(text, ' ')) AS word
  FROM documents
),
counts AS (
  SELECT word, count(*) AS n_raw,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS n_tgt
  FROM toks GROUP BY word
  HAVING count(*) >= 5
),
totals AS (
  SELECT sum(n_raw) AS tot_raw, sum(n_tgt) AS tot_tgt,
         count(*) AS vocab
  FROM counts
),
lm AS (
  SELECT word,
         ln((n_tgt + 0.5) / (tot_tgt + 0.5 * vocab))
         - ln((n_raw + 0.5) / (tot_raw + 0.5 * vocab)) AS log_ratio
  FROM counts, totals
)
SELECT t.doc_id, t.lang, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(log_ratio), 6) + 0.0 AS avg_log_ratio,
       round(avg(log_ratio), 6) > 0 AS selected
FROM toks t JOIN lm USING (word)
GROUP BY t.doc_id, t.lang
ORDER BY t.doc_id
""",
    notes="DSIR importance resampling (arXiv:2302.03169): per-doc "
    "unigram log-likelihood ratio target-LM vs raw-LM, Laplace-"
    "smoothed over a min-count-5 shared vocabulary (the cutoff kills "
    "the OOV smoothing artifact — see operator docstring); one corpus "
    "shuffle + a vocab-sized LM join back — the hashed-ngram variant "
    "at 100 TB swaps the word key for xxhash64(word) % 2^20; the "
    "+ 0.0 normalizes DuckDB's round(-tiny, 6) = -0.0 to +0.0 (Spark's "
    "round never emits negative zero — r10 sf0.1 full-sweep finding: "
    "one sf0.1 doc rounds to zero from below)",
)(lambda spark: text.dsir_importance_weights(spark))


_register(
    "ev_seasonal_adjustment",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY CAST(ts AS DATE)
),
d2 AS (
  SELECT day, n_events, CAST(dayofweek(day) + 1 AS INT) AS dow FROM daily
),
base AS (SELECT dow, median(n_events) AS baseline FROM d2 GROUP BY dow),
mad AS (
  SELECT d2.dow, median(abs(n_events - baseline)) AS mad
  FROM d2 JOIN base USING (dow) GROUP BY d2.dow
)
SELECT day, dow, n_events,
       round(baseline, 6) AS baseline,
       round(n_events - baseline, 6) AS residual,
       round(CASE WHEN mad > 0
                  THEN (n_events - baseline) / (1.4826 * mad) END, 6)
         AS robust_z,
       coalesce(abs(CASE WHEN mad > 0
                         THEN (n_events - baseline) / (1.4826 * mad) END)
                > 2.0, FALSE) AS is_anomaly
FROM d2 JOIN base USING (dow) JOIN mad USING (dow)
ORDER BY day
""",
    notes="day-of-week seasonal decomposition: weekday-median baseline "
    "+ weekday-MAD robust z over the daily series — deseasonalized "
    "anomalies a global median would mis-flag; one corpus-sized "
    "count shuffle, everything after runs on O(days) rows",
)(lambda spark: events_ops.seasonal_adjustment(spark))


_register(
    "emb_kcenter_sample",
    """
WITH RECURSIVE
ev AS (
  SELECT vec_id, label, i.i AS dim,
         CAST(embedding[CAST(i.i AS INT)] AS DOUBLE) AS val
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS i(i)
),
n2 AS (SELECT vec_id, sum(val * val) AS n2 FROM ev GROUP BY vec_id),
seed AS (SELECT vec_id FROM n2 ORDER BY n2 DESC, vec_id LIMIT 1),
sv AS (SELECT ev.dim, ev.val FROM ev JOIN seed USING (vec_id)),
state AS (
  SELECT 1 AS r, e.vec_id, any_value(e.label) AS label,
         round(sum((e.val - sv.val) * (e.val - sv.val)) * 1e9) / 1e9
           AS min_dist
  FROM ev e JOIN sv USING (dim)
  WHERE e.vec_id <> (SELECT vec_id FROM seed)
  GROUP BY e.vec_id
  UNION ALL
  SELECT s.r + 1, s.vec_id, s.label,
         least(s.min_dist,
               round((SELECT sum((a.val - b.val) * (a.val - b.val))
                      FROM ev a JOIN ev b USING (dim)
                      WHERE a.vec_id = s.vec_id AND b.vec_id = p.vec_id)
                     * 1e9) / 1e9)
  FROM state s,
       (SELECT vec_id FROM state ORDER BY min_dist DESC, vec_id LIMIT 1) p
  WHERE s.vec_id <> p.vec_id AND s.r < 9
),
picks AS (
  SELECT r, vec_id, label, min_dist,
         row_number() OVER (PARTITION BY r ORDER BY min_dist DESC, vec_id)
           AS rn
  FROM state
)
SELECT CAST(0 AS INT) AS selection_order,
       CAST(s.vec_id AS BIGINT) AS vec_id,
       CAST(e.label AS INT) AS label,
       CAST(NULL AS DOUBLE) AS dist_at_selection
FROM seed s JOIN embeddings e USING (vec_id)
UNION ALL
SELECT CAST(r AS INT), CAST(vec_id AS BIGINT), CAST(label AS INT), min_dist
FROM picks WHERE rn = 1
ORDER BY selection_order
""",
    notes="k-center greedy coreset (farthest-first traversal, "
    "arXiv:1708.00489): k rounds of map + top-1 reduce over a running "
    "min-dist column — no shuffle ever. PROMOTED rows-only -> fully "
    "oracled (r12, the uav_nms_greedy recursive-replay pattern): each "
    "recursion round re-derives the working set's argmax with a "
    "second recursive reference (ORDER BY min_dist DESC, vec_id LIMIT "
    "1) and folds the new center's distance in with the SAME "
    "progressive integer-scaled rounding (round(d*1e9)/1e9) the Spark "
    "loop applies, so the full 10-pick trace including "
    "dist_at_selection hash-matches at all three SFs; pytest "
    "additionally replicates the trace against numpy and pins the "
    "non-increasing cover radius (test_round5c_ops.py)",
)(lambda spark: similarity.kcenter_greedy_sample(spark))


_register(
    "emb_ivfpq_topk",
    """
WITH RECURSIVE
ev AS (
  SELECT vec_id, label, i.i AS dim,
         CAST(embedding[CAST(i.i AS INT)] AS DOUBLE) AS val
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS i(i)
),
vn AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM ev GROUP BY vec_id),
nv AS (
  SELECT e.vec_id, e.label, e.dim, e.val / n.nrm AS x
  FROM ev e JOIN vn n USING (vec_id)
),
cellc AS (SELECT label, dim, avg(x) AS c FROM nv GROUP BY label, dim),
sampids AS (
  SELECT vec_id,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS sid
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 256
),
sev AS (
  SELECT s.sid,
         CAST((n.dim - 1) // 8 AS INT) AS sub,
         CAST((n.dim - 1) % 8 AS INT) AS t,
         n.x - c.c AS val
  FROM sampids s
  JOIN nv n ON n.vec_id = s.vec_id
  JOIN cellc c ON c.label = n.label AND c.dim = n.dim
),
cent AS (
  SELECT 0 AS it, sub, CAST(sid AS INT) AS c, t, val
  FROM sev WHERE sid < 16
  UNION ALL
  SELECT c0.it + 1, c0.sub, c0.c, c0.t,
         round(1e6 * coalesce(m.mval, c0.val)) / 1e6
  FROM cent c0
  LEFT JOIN (
    SELECT a.sub, a.c, e.t, sum(e.val) / count(*) AS mval
    FROM (
      SELECT sid, sub, c FROM (
        SELECT d.sid, d.sub, d.c,
               row_number() OVER (PARTITION BY d.sid, d.sub
                                  ORDER BY d.d2, d.c) AS rn
        FROM (
          SELECT e2.sid, e2.sub, c2.c,
                 round(1e6 * sum((e2.val - c2.val) * (e2.val - c2.val)))
                   / 1e6 AS d2
          FROM sev e2 JOIN cent c2 ON c2.sub = e2.sub AND c2.t = e2.t
          GROUP BY e2.sid, e2.sub, c2.c
        ) d
      ) r WHERE rn = 1
    ) a
    JOIN sev e ON e.sid = a.sid AND e.sub = a.sub
    GROUP BY a.sub, a.c, e.t
  ) m ON m.sub = c0.sub AND m.c = c0.c AND m.t = c0.t
  WHERE c0.it < 8
),
rev AS (
  SELECT n.vec_id, n.label,
         CAST((n.dim - 1) // 8 AS INT) AS sub,
         CAST((n.dim - 1) % 8 AS INT) AS t,
         n.x - c.c AS rval
  FROM nv n JOIN cellc c ON c.label = n.label AND c.dim = n.dim
),
codes AS (
  SELECT vec_id, label, sub, c AS code FROM (
    SELECT d.vec_id, d.label, d.sub, d.c,
           row_number() OVER (PARTITION BY d.vec_id, d.sub
                              ORDER BY d.d2, d.c) AS rn
    FROM (
      SELECT r.vec_id, r.label, r.sub, b.c,
             round(1e6 * sum((r.rval - b.val) * (r.rval - b.val))) / 1e6
               AS d2
      FROM rev r JOIN cent b ON b.it = 8 AND b.sub = r.sub AND b.t = r.t
      GROUP BY r.vec_id, r.label, r.sub, b.c
    ) d
  ) x WHERE rn = 1
),
qv AS (
  SELECT vec_id AS query_id, label, dim, x FROM nv WHERE vec_id < 5
),
probes AS (
  SELECT query_id, label FROM (
    SELECT s.query_id, s.label,
           row_number() OVER (PARTITION BY s.query_id
                              ORDER BY s.pd2, s.label) AS cell_rank
    FROM (
      SELECT q.query_id, c.label,
             round(1e6 * sum((q.x - c.c) * (q.x - c.c))) / 1e6 AS pd2
      FROM qv q JOIN cellc c ON c.dim = q.dim
      GROUP BY q.query_id, c.label
    ) s
  ) r WHERE cell_rank <= 4
),
qr AS (  -- query residual against each probed cell
  SELECT p.query_id, p.label,
         CAST((q.dim - 1) // 8 AS INT) AS sub,
         CAST((q.dim - 1) % 8 AS INT) AS t,
         q.x - c.c AS rq
  FROM probes p
  JOIN qv q ON q.query_id = p.query_id
  JOIN cellc c ON c.label = p.label AND c.dim = q.dim
),
adc AS (
  SELECT q.query_id, k.vec_id, k.label,
         round(1e6 * sum((q.rq - b.val) * (q.rq - b.val))) / 1e6 AS adc_dist
  FROM qr q
  JOIN codes k ON k.label = q.label AND k.sub = q.sub
               AND k.vec_id <> q.query_id
  JOIN cent b ON b.it = 8 AND b.sub = k.sub AND b.c = k.code AND b.t = q.t
  GROUP BY q.query_id, k.vec_id, k.label
)
SELECT query_id, vec_id, label, adc_dist, CAST(rnk AS INT) AS rnk
FROM (
  SELECT query_id, vec_id, label, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, vec_id) AS rnk
  FROM adc
) WHERE rnk <= 5
ORDER BY query_id, rnk
""",
    notes="IVFADC composite ANN (Jégou et al. TPAMI 2011, the FAISS "
    "IVFx,PQy shape): coarse cells bound which vectors are scored, "
    "PQ residual codes bound the bytes per score, asymmetric-distance "
    "LUT gathers replace float math; codebooks train on a bounded "
    "deterministic sample, the encoded index is one map-only pass, "
    "queries never shuffle the corpus. PROMOTED rows-only -> fully "
    "oracled (r13, the quantized-PQ recipe at full pipeline depth): "
    "training, corpus encode, probe ranking, and ADC scores all snap "
    "to the 1e-6 grid with consistent lowest-index tie-breaks, so the "
    "DuckDB recursive CTE replays normalization, cell centroids, the "
    "md5-ordered residual sample, 8 Lloyd rounds x 8 subspaces, the "
    "code assignment, and the LUT-sum ranking end-to-end; pytest still "
    "pins recall vs knn_bruteforce, determinism, and the probe-subset "
    "contract (test_round5c_ops.py), and emb_ivfpq_recall_bound keeps "
    "the degenerate-PQ recall proof",
)(lambda spark: similarity.ivfpq_topk(spark))


_register(
    "emb_ivfpq_recall_bound",
    """
SELECT CAST(vec_id AS BIGINT) AS query_id,
       CAST(least(5, (SELECT count(*) FROM embeddings) - 1) AS BIGINT)
         AS n_exact,
       TRUE AS within_bound
FROM embeddings WHERE vec_id < 5 ORDER BY query_id
""",
    notes="oracled accuracy contract for the rows-only IVFPQ (r12, the "
    "emb_ivf_full_probe + sketch-bound pattern combined): full probe "
    "makes the candidate set complete, m=dim/ksub=64 degenerate PQ is "
    "per-dimension scalar quantization, and per-query recall@5 vs exact "
    "brute-force cosine must clear 0.4 — measured >=0.6 at all three "
    "SFs (means 0.88/0.88/0.96), deterministic for fixed data, so the "
    "constant-true table signs codebook training, residual encode, ADC "
    "LUT gather, and ranking end-to-end",
)(lambda spark: similarity.ivfpq_recall_audit(spark))


_register(
    "ev_cusum_changepoints",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY CAST(ts AS DATE)
),
stats AS (
  SELECT avg(n_events) AS mu, stddev_samp(n_events) AS sd FROM daily
),
scored AS (
  SELECT day, n_events,
         (n_events - mu) / sd AS z,
         sum((n_events - mu) / sd - 0.5) OVER w AS p_up,
         sum((n_events - mu) / sd + 0.5) OVER w AS p_dn
  FROM daily, stats
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
cs AS (
  SELECT day, n_events, z,
         p_up - least(min(p_up) OVER w, 0.0) AS s_up,
         greatest(max(p_dn) OVER w, 0.0) - p_dn AS s_dn
  FROM scored
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT day, n_events, round(z, 6) AS z, round(s_up, 6) AS cusum_up,
       round(s_dn, 6) AS cusum_down,
       (s_up > 4.0 OR s_dn > 4.0) AS alarm
FROM cs ORDER BY day
""",
    notes="CUSUM changepoint detection (Page 1954) over the daily "
    "series via the exact closed form S_t = P_t - running_min(P) — "
    "the 'sequential' recursion as two cumulative windows, fully "
    "relational and oracle-checked; catches sustained small shifts "
    "per-point z screens miss; O(days) window work after one "
    "corpus-sized count",
)(lambda spark: events_ops.cusum_changepoints(spark))


_register(
    "text_heaps_law",
    """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
  FROM documents
),
toks_nz AS (SELECT doc_id, word FROM toks WHERE word <> ''),
per_doc AS (
  SELECT doc_id, count(*) AS n_toks FROM toks_nz GROUP BY doc_id
),
firsts AS (
  SELECT word, min(doc_id) AS first_doc FROM toks_nz GROUP BY word
),
new_per_doc AS (
  SELECT first_doc AS doc_id, count(*) AS new_words
  FROM firsts GROUP BY first_doc
),
curve AS (
  SELECT d.doc_id,
         CAST(sum(d.n_toks) OVER w AS BIGINT) AS cum_tokens,
         CAST(sum(coalesce(n.new_words, 0)) OVER w AS BIGINT) AS cum_vocab
  FROM per_doc d LEFT JOIN new_per_doc n USING (doc_id)
  WINDOW w AS (ORDER BY d.doc_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
fit AS (
  SELECT round(regr_slope(ln(cum_vocab), ln(cum_tokens)), 6) AS heaps_beta
  FROM curve
)
SELECT doc_id, cum_tokens, cum_vocab, heaps_beta
FROM curve, fit ORDER BY doc_id
""",
    notes="Heaps'-law vocabulary growth curve + fitted log-log exponent "
    "(V ~ K n^beta): first-occurrence doc per word -> new-words-per-doc "
    "-> cumulative windows over O(docs) rows; the synthetic-corpus "
    "screen complementary to zipf_slope (ranks vs growth); at 100 TB "
    "the curve samples checkpoints, shuffles stay word/doc-keyed",
)(lambda spark: text.heaps_law_curve(spark))


_register(
    "rel_join_skew_audit",
    """
WITH h AS (
  SELECT 'l_orderkey' AS key_column, l_orderkey AS k, count(*) AS n
  FROM lineitem GROUP BY l_orderkey
  UNION ALL
  SELECT 'l_partkey', l_partkey, count(*) FROM lineitem GROUP BY l_partkey
  UNION ALL
  SELECT 'l_suppkey', l_suppkey, count(*) FROM lineitem GROUP BY l_suppkey
)
SELECT key_column,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(max(n) AS BIGINT) AS max_per_key,
       round(avg(n), 6) AS avg_per_key,
       round(quantile_cont(n, 0.5), 6) AS p50_per_key,
       round(quantile_cont(n, 0.99), 6) AS p99_per_key,
       round(max(n) / avg(n), 6) AS straggler_ratio,
       round(max(n) / sum(n), 6) AS top1_share,
       (max(n) / avg(n)) > 10.0 AS needs_salting
FROM h GROUP BY key_column ORDER BY key_column
""",
    notes="pre-join skew probe: rows-per-key histogram stats (straggler "
    "ratio, exact p50/p99, hottest-key share) for the three lineitem "
    "join keys — the decision inputs of SCALE.md's salting rules as a "
    "query; per-key histograms are map-side combinable and |keys|-"
    "sized, scalar aggs run over the histogram not the fact rows",
)(lambda spark: skew.join_key_skew_audit(spark))


_register(
    "text_pmi_collocations",
    """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(ws) AS word,
         unnest(range(1, len(ws) + 1)) AS pos
  FROM base
),
uni AS (SELECT word, count(*) AS n FROM toks GROUP BY word),
tot_u AS (SELECT CAST(sum(n) AS DOUBLE) AS total_words FROM uni),
bi AS (
  SELECT a.word AS w1, b.word AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
tot_b AS (SELECT CAST(count(*) AS DOUBLE) AS total_pairs FROM bi),
pairs AS (
  SELECT w1, w2, count(*) AS n_pair FROM bi GROUP BY w1, w2
  HAVING count(*) >= 25
)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
       CAST(u1.n AS BIGINT) AS n_w1, CAST(u2.n AS BIGINT) AS n_w2,
       round(ln((n_pair / total_pairs) /
                ((u1.n / total_words) * (u2.n / total_words))), 6) AS pmi
FROM pairs
JOIN uni u1 ON u1.word = pairs.w1
JOIN uni u2 ON u2.word = pairs.w2
CROSS JOIN tot_b CROSS JOIN tot_u
ORDER BY pmi DESC, w1, w2 LIMIT 50
""",
    notes="PMI collocations (Church & Hanks 1990): adjacent bigrams "
    "scored by ln(p(ab)/(p(a)p(b))) with a min-count floor against "
    "low-frequency PMI bias — finds pairs rare APART where raw "
    "frequency finds common pairs; bigrams build in-row via zip_with "
    "slices, two map-side-combinable count shuffles, vocab-sized "
    "unigram joins back",
)(lambda spark: text.pmi_collocations(spark))


# ===========================================================================
# round-5 session-3 additions: interval analytics, inequality/Pareto audits,
# readability, chi-square mix audit, edit-distance dedup, embedding
# dimension profile, UAV motion vectors
# ===========================================================================

_register(
    "ev_concurrent_sessions",
    """
WITH us AS (
  SELECT user_id, event_id, epoch_us(ts) AS t FROM events
),
flagged AS (
  SELECT user_id, t, event_id,
         CASE WHEN t - lag(t) OVER w IS NULL
                OR t - lag(t) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM us WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
sess AS (
  SELECT user_id, t,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
),
iv AS (
  SELECT user_id, session_seq, min(t) AS start_us, max(t) AS end_us
  FROM sess GROUP BY user_id, session_seq
),
sweep AS (
  SELECT user_id, session_seq, start_us AS t_us, 1 AS delta FROM iv
  UNION ALL
  SELECT user_id, session_seq, end_us, -1 FROM iv
),
sweep2 AS (
  SELECT *, CAST(make_timestamp(t_us) AS DATE) AS day FROM sweep
),
offsets AS (
  SELECT c.day,
         CAST(coalesce(sum(p.day_delta), 0) AS BIGINT) AS carry_in
  FROM (SELECT day, sum(delta) AS day_delta FROM sweep2 GROUP BY day) c
  LEFT JOIN (SELECT day, sum(delta) AS day_delta FROM sweep2 GROUP BY day) p
    ON p.day < c.day
  GROUP BY c.day
),
runs AS (
  SELECT s.day, s.delta, o.carry_in,
         o.carry_in + sum(s.delta) OVER (
           PARTITION BY s.day
           ORDER BY s.t_us, s.delta DESC, s.user_id, s.session_seq
           ROWS UNBOUNDED PRECEDING) AS concurrency
  FROM sweep2 s JOIN offsets o ON o.day = s.day
)
SELECT day,
       CAST(greatest(max(concurrency), max(carry_in)) AS BIGINT)
         AS peak_concurrency,
       CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sessions_started
FROM runs GROUP BY day ORDER BY day
""",
    notes="peak concurrent sessions per day: gap-sessionize -> closed "
    "intervals -> sweep-line (+1/-1) with ends-after-starts tie rule; "
    "running sum is two-phase (per-day window + triangular-join day "
    "carry) so no single-partition window exists at any series "
    "length; peak includes the day-START level (carry_in) so a day "
    "whose first boundary is a session end is not understated; days "
    "with zero boundary events are absent by contract",
)(lambda spark: events_ops.concurrent_sessions(spark))


_register(
    "rel_revenue_gini",
    """
WITH rev AS (
  SELECT o_custkey, sum(o_totalprice) AS revenue
  FROM orders GROUP BY o_custkey
),
seg AS (
  SELECT o_custkey, revenue, c_mktsegment
  FROM rev JOIN customer ON c_custkey = o_custkey
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                               ORDER BY revenue, o_custkey) AS rnk
  FROM seg
)
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(revenue), 2) AS total_revenue,
       round(2.0 * sum(rnk * revenue) / (count(*) * sum(revenue))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM ranked GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
    notes="Gini concentration of customer revenue per market segment "
    "(closed form over ascending per-segment ranks, custkey "
    "tie-break); segment-partitioned windows only",
)(lambda spark: relational.revenue_gini(spark))


_register(
    "rel_abc_pareto",
    """
WITH rev AS (
  SELECT o_custkey, sum(o_totalprice) AS revenue
  FROM orders GROUP BY o_custkey
),
seg AS (
  SELECT o_custkey, revenue, c_mktsegment
  FROM rev JOIN customer ON c_custkey = o_custkey
),
shares AS (
  SELECT c_mktsegment, revenue,
         sum(revenue) OVER (PARTITION BY c_mktsegment
                            ORDER BY revenue DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING)
           / sum(revenue) OVER (PARTITION BY c_mktsegment) AS cum_share
  FROM seg
),
agg AS (
  SELECT c_mktsegment,
         CASE WHEN cum_share <= 0.80 THEN 'A'
              WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class,
         CAST(count(*) AS BIGINT) AS n_customers,
         round(sum(revenue), 2) AS class_revenue
  FROM shares GROUP BY 1, 2
)
SELECT c_mktsegment, abc_class, n_customers, class_revenue,
       round(class_revenue
             / sum(class_revenue) OVER (PARTITION BY c_mktsegment), 6)
         AS revenue_share
FROM agg ORDER BY c_mktsegment, abc_class
""",
    notes="ABC/Pareto classification (A to 80% cumulative segment "
    "revenue, B to 95%, C tail); per-segment descending-revenue "
    "window; 100 TB variant = approx_percentile threshold bucketing "
    "(docstring)",
)(lambda spark: relational.abc_classification(spark))


_register(
    "text_readability_scores",
    """
WITH r AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
  FROM documents
),
f AS (
  SELECT *,
         206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) AS flesch_raw
  FROM r
)
SELECT doc_id, lang,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       round(flesch_raw, 6) AS flesch,
       CASE WHEN flesch_raw >= 90 THEN 'very_easy'
            WHEN flesch_raw >= 70 THEN 'easy'
            WHEN flesch_raw >= 50 THEN 'medium'
            WHEN flesch_raw >= 30 THEN 'difficult'
            ELSE 'very_difficult' END AS band
FROM f
""",
    notes="Flesch reading ease with vowel-group syllable approximation "
    "(identical regexes both engines); map-only, zero shuffle",
)(lambda spark: text.readability_scores(spark))


_register(
    "text_lang_source_chi2",
    """
WITH observed AS (
  SELECT lang, source, CAST(count(*) AS DOUBLE) AS obs
  FROM documents GROUP BY lang, source
),
lt AS (SELECT lang, sum(obs) AS lang_n FROM observed GROUP BY lang),
st AS (SELECT source, sum(obs) AS src_n FROM observed GROUP BY source),
tot AS (
  SELECT sum(obs) AS n, count(DISTINCT lang) AS n_langs,
         count(DISTINCT source) AS n_sources
  FROM observed
),
cells AS (
  -- full grid incl. structural zeros: unseen (lang, source) cells still
  -- have expected > 0 and contribute to the statistic
  SELECT lt.lang, st.source, lang_n, src_n, coalesce(o.obs, 0.0) AS obs
  FROM lt CROSS JOIN st
  LEFT JOIN observed o ON o.lang = lt.lang AND o.source = st.source
),
j AS (
  SELECT lang, source, obs,
         lang_n * src_n / n AS expected,
         pow(obs - lang_n * src_n / n, 2)
           / (lang_n * src_n / n) AS contribution,
         n, n_langs, n_sources
  FROM cells CROSS JOIN tot
),
tc AS (SELECT sum(contribution) AS chi2 FROM j)
SELECT lang, source, CAST(obs AS BIGINT) AS observed,
       round(expected, 6) AS expected,
       round(contribution, 6) AS contribution,
       round(chi2, 6) AS chi2_total,
       CAST((n_langs - 1) * (n_sources - 1) AS BIGINT) AS dof,
       round(sqrt(chi2 / (n * least(n_langs, n_sources) - n)), 6) AS cramers_v
FROM j CROSS JOIN tc ORDER BY lang, source
""",
    notes="chi-square independence audit of the lang x source "
    "contingency table with per-cell contributions + Cramer's V; "
    "margins/total are partial-agg passes over the cell aggregate",
)(lambda spark: text.lang_source_chi2(spark))


_register(
    "dedup_edit_distance",
    """
WITH d AS (
  SELECT doc_id, lang, text, n_chars,
         CAST(floor(n_chars / 25) AS BIGINT) AS band
  FROM documents
),
a AS (
  SELECT doc_id AS doc_id_a, lang AS lang_a, text AS text_a,
         n_chars AS len_a, band + x AS band
  FROM d, unnest([-1, 0, 1]) AS t(x)
),
pairs AS (
  SELECT doc_id_a, b.doc_id AS doc_id_b, lang_a AS lang,
         levenshtein(text_a, b.text) AS lev,
         greatest(len_a, b.n_chars) AS mx
  FROM a JOIN d b USING (band)
  WHERE b.doc_id > doc_id_a AND lang_a = b.lang
    AND abs(len_a - b.n_chars) <= 25
)
SELECT doc_id_a, doc_id_b, lang,
       CAST(lev AS BIGINT) AS edit_distance,
       round(1.0 - CAST(lev AS DOUBLE) / mx, 6) AS similarity
FROM pairs WHERE 1.0 - CAST(lev AS DOUBLE) / mx >= 0.8
""",
    notes="blocked Levenshtein near-dup verify: (lang, length-band) "
    "JOIN key with 2-emit a-side (band, band+1) oriented by (band, "
    "doc_id) - same-band pairs meet under the id tie-break, boundary "
    "pairs meet once in the higher band regardless of which side "
    "holds the lower doc_id (r5 recall bug class), output re-oriented "
    "by least/greatest id; the ORACLE deliberately keeps the distinct "
    "3-band id-oriented enumeration, so the two engines must agree "
    "across different blocking schemes; "
    "thresholded (early-abandon) DP returns -1 past the floor's "
    "implied max and is filtered - exact values survive for every "
    "reported row, so the oracle's full-DP recompute hashes "
    "identically; at 100 TB the block key swaps to MinHash band "
    "buckets (dedup_minhash_editdist)",
)(lambda spark: dedup.edit_distance_pairs(spark))


_register(
    "emb_dimension_variance",
    """
WITH flat AS (
  SELECT CAST(unnest(range(len(embedding))) AS INT) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
)
SELECT dim, round(avg(x), 6) AS mean, round(var_pop(x), 6) AS variance,
       round(min(x), 6) AS min_x, round(max(x), 6) AS max_x
FROM flat GROUP BY dim ORDER BY variance DESC, dim LIMIT 8
""",
    notes="per-dimension embedding profile (PCA/whitening audit): "
    "posexplode -> map-side-combined per-dim aggregate; top-k over the "
    "64-row dim table is TakeOrderedAndProject; oracle zips parallel "
    "unnests",
)(lambda spark: similarity.dimension_variance_profile(spark))


_register(
    "uav_motion_vectors",
    with_fixture_ctes(
        """
, det AS (
  SELECT * FROM detections
  WHERE class_name IN ('car', 'person') AND confidence >= 0.4
),
top AS (
  SELECT camera_id, class_name, frame_number,
         (x_min + x_max) / 2.0 AS cx, (y_min + y_max) / 2.0 AS cy,
         row_number() OVER (PARTITION BY camera_id, class_name, frame_number
                            ORDER BY confidence DESC, det_id) AS rn
  FROM det
),
moved AS (
  SELECT camera_id, class_name,
         sqrt((cx - lag(cx) OVER w) * (cx - lag(cx) OVER w)
              + (cy - lag(cy) OVER w) * (cy - lag(cy) OVER w))
           / (frame_number - lag(frame_number) OVER w) AS speed
  FROM (SELECT * FROM top WHERE rn = 1) t
  WINDOW w AS (PARTITION BY camera_id, class_name ORDER BY frame_number)
)
SELECT camera_id, class_name, CAST(count(*) AS BIGINT) AS n_moves,
       round(avg(speed), 6) AS avg_speed,
       round(max(speed), 6) AS max_speed
FROM moved WHERE speed IS NOT NULL
GROUP BY camera_id, class_name ORDER BY camera_id, class_name
"""
    ),
    notes="tracking-lite motion estimate: max-confidence box per "
    "(camera, class, keyframe) -> center displacement via lag over the "
    "keyframe sequence, speed normalized by actual frame gap; all "
    "windows (camera, class)-partitioned",
)(lambda spark: uav_extra.motion_vectors(spark.table("detections")))


_register(
    "ev_prequential_zscore",
    """
WITH seq AS (
  SELECT user_id, event_id, value,
         count(*) OVER w AS n_prior,
         avg(value) OVER w AS mu_prev,
         stddev_samp(value) OVER w AS sd_prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id, round(value, 6) AS value,
       CAST(n_prior AS BIGINT) AS n_prior,
       round((value - mu_prev) / sd_prev, 6) AS z
FROM seq
WHERE n_prior >= 8 AND sd_prev > 0
  AND abs((value - mu_prev) / sd_prev) > 3
""",
    notes="prequential (test-then-train) z-score: each event vs its "
    "user's PRIOR history via expanding windows ending one row back — "
    "the leak-free live-monitor rule; batch twin of the streaming "
    "Welford state (streaming/anomaly_stream.py); per-user partitions "
    "only",
)(lambda spark: events_ops.prequential_zscore(spark))


_register(
    "text_ngram_novelty",
    """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(ws) - 2),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
  FROM t
),
flat AS (SELECT doc_id, unnest(grams) AS gram FROM g),
firsts AS (SELECT gram, min(doc_id) AS first_doc FROM flat GROUP BY gram),
per_doc AS (SELECT doc_id, count(*) AS n_grams FROM flat GROUP BY doc_id),
novel AS (
  SELECT first_doc AS doc_id, count(*) AS n_novel
  FROM firsts GROUP BY first_doc
)
SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.n_grams) AS BIGINT) AS n_grams,
       CAST(coalesce(sum(n.n_novel), 0) AS BIGINT) AS n_novel,
       round(coalesce(sum(n.n_novel), 0) * 1.0 / sum(p.n_grams), 6)
         AS novelty_rate
FROM per_doc p
JOIN documents d USING (doc_id)
LEFT JOIN novel n ON n.doc_id = p.doc_id
GROUP BY d.source ORDER BY d.source
""",
    notes="per-source 3-gram novelty (fraction of grams never seen in "
    "any earlier doc_id) — the corpus-freshness decay audit; one "
    "gram-keyed + one doc-keyed shuffle, source-level rollup; docs "
    "shorter than n words carry no grams (excluded, count reported)",
)(lambda spark: dedup.ngram_novelty_by_source(spark))


_register(
    "ev_dau_mau_stickiness",
    """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY day),
days AS (SELECT DISTINCT day FROM du),
mau AS (
  SELECT d.day, count(DISTINCT du.user_id) AS mau
  FROM du JOIN days d ON du.day <= d.day AND du.day >= d.day - 27
  GROUP BY d.day
)
SELECT day, CAST(dau AS BIGINT) AS dau, CAST(mau AS BIGINT) AS mau,
       round(dau * 1.0 / mau, 6) AS stickiness
FROM dau JOIN mau USING (day) ORDER BY day
""",
    notes="DAU/MAU engagement ratio with exact trailing-28-day distinct "
    "via a bounded range join against the O(days) spine (count distinct "
    "isn't frame-aggregable); HLL sketch rollup is the documented "
    "extreme-scale variant",
)(lambda spark: events_ops.dau_mau_stickiness(spark))


_register(
    "emb_mmr_rerank",
    """
WITH RECURSIVE
ev AS (
  SELECT vec_id, i.i AS dim,
         CAST(embedding[CAST(i.i AS INT)] AS DOUBLE) AS val
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS i(i)
),
n2 AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM ev GROUP BY vec_id),
rel AS (
  SELECT q.vec_id AS query_id, e.vec_id,
         sum(eq.val * ee.val) / (nq.nrm * ne.nrm) AS relevance
  FROM embeddings q
  JOIN embeddings e ON e.vec_id <> q.vec_id
  JOIN ev eq ON eq.vec_id = q.vec_id
  JOIN ev ee ON ee.vec_id = e.vec_id AND ee.dim = eq.dim
  JOIN n2 nq ON nq.vec_id = q.vec_id
  JOIN n2 ne ON ne.vec_id = e.vec_id
  WHERE q.vec_id < 5
  GROUP BY q.vec_id, e.vec_id, nq.nrm, ne.nrm
),
cand AS (
  SELECT query_id, vec_id, relevance FROM (
    SELECT query_id, vec_id, relevance,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY relevance DESC, vec_id) AS rn
    FROM rel) WHERE rn <= 32
),
usim AS (
  SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
         sum((ea.val / na.nrm) * (eb.val / nb.nrm)) AS sim
  FROM cand a
  JOIN cand b ON b.query_id = a.query_id
  JOIN ev ea ON ea.vec_id = a.vec_id
  JOIN ev eb ON eb.vec_id = b.vec_id AND eb.dim = ea.dim
  JOIN n2 na ON na.vec_id = a.vec_id
  JOIN n2 nb ON nb.vec_id = b.vec_id
  GROUP BY a.query_id, a.vec_id, b.vec_id, na.nrm, nb.nrm
),
state AS (
  SELECT 1 AS r, query_id, vec_id, relevance,
         CAST(0.0 AS DOUBLE) AS max_sim, CAST(NULL AS DOUBLE) AS raw_max,
         TRUE AS free
  FROM cand
  UNION ALL
  SELECT s.r + 1, s.query_id, s.vec_id, s.relevance,
         CASE WHEN s.vec_id <> p.vec_id
              THEN greatest(s.max_sim, u.sim) ELSE s.max_sim END,
         CASE WHEN s.vec_id <> p.vec_id
              THEN greatest(coalesce(s.raw_max, u.sim), u.sim)
              ELSE s.raw_max END,
         s.free AND s.vec_id <> p.vec_id
  FROM state s
  JOIN (
    SELECT query_id, vec_id FROM (
      SELECT query_id, vec_id,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY 0.7 * relevance - (1.0 - 0.7) * max_sim DESC,
                        vec_id) AS rn
      FROM state WHERE free) WHERE rn = 1) p
    ON p.query_id = s.query_id
  JOIN usim u
    ON u.query_id = s.query_id AND u.va = s.vec_id AND u.vb = p.vec_id
  WHERE s.r < 8
),
picks AS (
  SELECT r, query_id, vec_id, relevance,
         0.7 * relevance - (1.0 - 0.7) * coalesce(raw_max, 0.0) AS mmr_score,
         row_number() OVER (
           PARTITION BY query_id, r
           ORDER BY 0.7 * relevance - (1.0 - 0.7) * max_sim DESC,
                    vec_id) AS rn
  FROM state WHERE free
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(r AS INT) AS rank,
       CAST(vec_id AS BIGINT) AS vec_id,
       round_even(relevance, 6) AS relevance,
       round_even(mmr_score, 6) AS mmr_score
FROM picks WHERE rn = 1
ORDER BY query_id, rank
""",
    notes="Maximal Marginal Relevance diversity re-ranking (Carbonell & "
    "Goldstein '98): kNN-shaped candidate stage (broadcast queries, "
    "corpus never shuffles) + greedy lam*rel - (1-lam)*max-sim "
    "selection as applyInPandas over bounded per-query candidate "
    "groups. PROMOTED rows-only -> fully oracled (r12, the "
    "recursive-greedy-replay pattern): the DuckDB recursion carries "
    "per-candidate (max_sim, raw_max, free) state, re-derives each "
    "round's argmax with a second recursive reference, and reports "
    "scores from the UNclamped raw max (matching the numpy output "
    "recompute) while selecting on the zero-floored one (matching the "
    "numpy selection loop); round_even mirrors np.round half-even. "
    "Base-term literals are CAST to DOUBLE — DuckDB types a bare 0.0 "
    "anchor DECIMAL(2,1) and silently coerces every recursive value "
    "(0.95 -> 1.0). Full 5x8 trace incl. scores hash-matches at all "
    "three SFs; numpy-reference exactness + diversity perturbation "
    "stay pinned in tests",
)(lambda spark: similarity.mmr_rerank(spark))


_register(
    "ev_funnel_step_timing",
    """
WITH pu AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id
),
fc AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN pu ON pu.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts >= pu.t_view
  GROUP BY e.user_id
),
fp AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN fc ON fc.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= fc.t_click
  GROUP BY e.user_id
),
stage AS (
  SELECT pu.user_id,
         CAST((epoch_us(fc.t_click) - epoch_us(pu.t_view)) // 1000000
              AS BIGINT) AS view_to_click_s,
         CAST((epoch_us(fp.t_purchase) - epoch_us(fc.t_click)) // 1000000
              AS BIGINT) AS click_to_purchase_s
  FROM pu JOIN fc ON fc.user_id = pu.user_id
  LEFT JOIN fp ON fp.user_id = pu.user_id
),
gaps AS (
  SELECT user_id, 'view_to_click' AS step, view_to_click_s AS gap_s
  FROM stage
  UNION ALL
  SELECT user_id, 'click_to_purchase', click_to_purchase_s
  FROM stage WHERE click_to_purchase_s IS NOT NULL
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY step ORDER BY gap_s, user_id)
           AS rnk,
         count(*) OVER (PARTITION BY step) AS n
  FROM gaps
)
SELECT step, CAST(max(n) AS BIGINT) AS n_users,
       round(avg(gap_s), 6) AS avg_gap_s,
       round(avg(CASE WHEN rnk = (n + 1) // 2
                        OR rnk = (n + 2) // 2
                      THEN gap_s END), 6) AS median_gap_s,
       CAST(min(gap_s) AS BIGINT) AS min_gap_s,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s
FROM ranked GROUP BY step ORDER BY step
""",
    notes="time-to-convert per funnel stage (same chain as "
    "ev_funnel_conversion): exact median via two-middle-rows rank "
    "arithmetic — integer-indexed, immune to percentile-interpolation "
    "differences; approx_percentile is the documented extreme-scale "
    "swap",
)(lambda spark: events_ops.funnel_step_timing(spark))


_register(
    "ev_forecast_backtest",
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
wd AS (
  SELECT *, CAST((day - DATE '1970-01-01') % 7 AS INT) AS weekday
  FROM daily
),
mx AS (SELECT max(day) AS max_day FROM daily),
split AS (
  SELECT wd.*, (mx.max_day - wd.day) < 7 AS is_test
  FROM wd CROSS JOIN mx
),
train AS (
  SELECT event_type, weekday, avg(n_events) AS forecast
  FROM split WHERE NOT is_test GROUP BY event_type, weekday
)
SELECT t.event_type,
       CAST(count(*) AS BIGINT) AS n_test_days,
       CAST(sum(CASE WHEN tr.forecast IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped_days,
       round(avg(CASE WHEN tr.forecast IS NOT NULL THEN t.n_events END), 6)
         AS actual_mean,
       round(avg(tr.forecast), 6) AS forecast_mean,
       round(avg(abs(t.n_events - tr.forecast)), 6) AS mae,
       round(avg(abs(t.n_events - tr.forecast) / t.n_events), 6) AS mape
FROM split t LEFT JOIN train tr
  ON tr.event_type = t.event_type AND tr.weekday = t.weekday
WHERE t.is_test
GROUP BY t.event_type ORDER BY t.event_type
""",
    notes="seasonal-naive forecast backtest: last-7-day holdout scored "
    "against training weekday means (MAE/MAPE per type) — the baseline "
    "every forecast model must beat; weekday = days-since-epoch mod 7 "
    "(engine-portable; dayofweek() origins differ); LEFT train join "
    "keeps uncovered test days in n_test_days and surfaces them as "
    "n_dropped_days (no silent denominator shrink); actual_mean / "
    "forecast_mean / mae / mape all average over COVERED days only, so "
    "the bias comparison uses one denominator (r6 ADVICE)",
)(lambda spark: events_ops.forecast_backtest(spark))


_register(
    "rel_cohort_repurchase",
    """
WITH o AS (
  SELECT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m_idx
  FROM orders
),
firsts AS (
  SELECT o_custkey, min(m_idx) AS cohort_m FROM o GROUP BY o_custkey
),
activity AS (
  SELECT DISTINCT o.o_custkey, f.cohort_m, o.m_idx - f.cohort_m AS offset_m
  FROM o JOIN firsts f ON f.o_custkey = o.o_custkey
),
sizes AS (
  SELECT cohort_m, count(DISTINCT o_custkey) AS cohort_size
  FROM firsts GROUP BY cohort_m
)
SELECT CAST(floor(a.cohort_m / 12.0) AS INT) AS cohort_year,
       CAST(a.cohort_m % 12 + 1 AS INT) AS cohort_month,
       CAST(a.offset_m AS INT) AS offset_m,
       CAST(count(DISTINCT a.o_custkey) AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       round(count(DISTINCT a.o_custkey) * 1.0 / s.cohort_size, 6)
         AS retention
FROM activity a JOIN sizes s ON s.cohort_m = a.cohort_m
GROUP BY a.cohort_m, a.offset_m, s.cohort_size
ORDER BY cohort_year, cohort_month, offset_m
""",
    notes="cohort repurchase matrix over orders: first-order-month "
    "cohorts x month offsets, retention = active/cohort_size; "
    "zero-based month index (year*12 + month - 1) keeps December in "
    "its own year — exact integer arithmetic both engines",
)(lambda spark: relational.cohort_repurchase_matrix(spark))


_register(
    "dedup_minhash_editdist",
    f"""
WITH RECURSIVE
{_hash64_replay_ctes()},
{_minhash_pairs_ctes()}
SELECT doc_id_a, doc_id_b, lang, edit_distance, similarity FROM (
  SELECT p.doc_id_a, p.doc_id_b, da.lang,
         CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance,
         round((1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
                      / greatest(da.n_chars, db.n_chars)) * 1e6) / 1e6
           AS similarity
  FROM mh_pairs p
  JOIN documents da ON da.doc_id = p.doc_id_a
  JOIN documents db ON db.doc_id = p.doc_id_b
  WHERE da.lang = db.lang
) WHERE similarity >= 0.8
""",
    notes="block-then-verify near-dup at the 100 TB shape: MinHash+LSH "
    "candidates (one signature pass, bucket-keyed shuffle, no "
    "all-pairs) x exact Levenshtein verify on colliding pairs only. "
    "PROMOTED rows-only -> fully oracled (r13): candidates replay via "
    "the shared signature-plane CTEs, DuckDB's levenshtein() is the "
    "same unit-cost metric as Spark's, and the similarity uses the "
    "integer-scaling snap on both engines; recall vs the blocked-exact "
    "dedup_edit_distance stays pinned in tests",
)(lambda spark: dedup.minhash_editdist_verify(spark))


_register(
    "ev_srm_check",
    """
WITH users AS (SELECT DISTINCT user_id FROM events),
arms AS (
  SELECT CAST(user_id % 2 AS INT) AS variant,
         CAST(count(*) AS DOUBLE) AS n_users
  FROM users GROUP BY 1
),
tot AS (SELECT sum(n_users) AS n_total FROM arms),
pe AS (
  SELECT variant, n_users,
         CASE WHEN variant = 1 THEN n_total * 0.5
              ELSE n_total * (1.0 - 0.5) END AS expected
  FROM arms CROSS JOIN tot
),
pc AS (
  SELECT *, pow(n_users - expected, 2) / expected AS chi2_cell FROM pe
),
st AS (SELECT sum(chi2_cell) AS chi2 FROM pc)
SELECT variant, CAST(n_users AS BIGINT) AS n_users,
       round(expected, 6) AS expected_users,
       round(chi2_cell, 6) AS chi2_cell,
       round(chi2, 6) AS chi2,
       chi2 > 10.827566 AS srm_flag
FROM pc CROSS JOIN st ORDER BY variant
""",
    notes="sample-ratio mismatch gate (chi-square on per-arm DISTINCT "
    "user counts vs the intended split; alarm at p < 0.001 == chi2 > "
    "10.83 literal, df=1) — same user_id %% 2 assignment as "
    "ev_cuped_readout/ev_power_analysis so the three describe one "
    "experiment",
)(lambda spark: events_ops.srm_check(spark))


_register(
    "emb_matryoshka_overlap",
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qfull, embedding[1:16] AS qcut
  FROM embeddings WHERE vec_id < 5
),
pairs AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(e.embedding, q.qfull), 6) AS cos_full,
         round(list_cosine_similarity(e.embedding[1:16], q.qcut), 6)
           AS cos_cut
  FROM embeddings e JOIN q ON e.vec_id <> q.query_id
),
tf AS (
  SELECT query_id, vec_id, row_number() OVER
           (PARTITION BY query_id ORDER BY cos_full DESC, vec_id) AS r
  FROM pairs
),
tc AS (
  SELECT query_id, vec_id, row_number() OVER
           (PARTITION BY query_id ORDER BY cos_cut DESC, vec_id) AS r
  FROM pairs
),
f10 AS (SELECT query_id, vec_id FROM tf WHERE r <= 10),
c10 AS (SELECT query_id, vec_id FROM tc WHERE r <= 10),
hits AS (
  SELECT f10.query_id, count(*) AS n_overlap
  FROM f10 JOIN c10
    ON f10.query_id = c10.query_id AND f10.vec_id = c10.vec_id
  GROUP BY f10.query_id
),
base AS (SELECT query_id, count(*) AS k_eff FROM f10 GROUP BY query_id)
SELECT b.query_id, CAST(k_eff AS BIGINT) AS k,
       CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
       round(coalesce(n_overlap, 0) * 1.0 / k_eff, 6) AS overlap_at_k
FROM base b LEFT JOIN hits h ON h.query_id = b.query_id
ORDER BY b.query_id
""",
    notes="Matryoshka truncation audit (MRL 2205.13147): top-k overlap "
    "between full-dim and first-16-dim cosine rankings per query — "
    "measures whether truncated retrieval is safe; both rankings are "
    "the broadcast-queries kNN shape, fully oracle value-checked",
)(lambda spark: similarity.matryoshka_overlap(spark))


_register(
    "uav_class_cooccurrence",
    with_fixture_ctes(
        """
, det AS (SELECT * FROM detections WHERE confidence >= 0.4),
present AS (
  SELECT DISTINCT camera_id, frame_number, class_name FROM det
),
ft AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_frames
  FROM (SELECT DISTINCT camera_id, frame_number FROM present)
),
pc AS (
  SELECT class_name, count(*) AS n_class FROM present GROUP BY class_name
),
pairs AS (
  SELECT a.class_name AS class_a, b.class_name AS class_b,
         count(*) AS n_both
  FROM present a JOIN present b
    ON a.camera_id = b.camera_id AND a.frame_number = b.frame_number
   AND a.class_name < b.class_name
  GROUP BY 1, 2
)
SELECT class_a, class_b, CAST(n_both AS BIGINT) AS n_both,
       CAST(ca.n_class AS BIGINT) AS n_a,
       CAST(cb.n_class AS BIGINT) AS n_b,
       round((n_both * n_frames) / (ca.n_class * cb.n_class), 6) AS lift
FROM pairs
JOIN pc ca ON ca.class_name = pairs.class_a
JOIN pc cb ON cb.class_name = pairs.class_b
CROSS JOIN ft ORDER BY class_a, class_b
"""
    ),
    notes="class co-occurrence lift over keyframes (frame-level "
    "presence, pair join bounded per frame, scalar denominators "
    "broadcast) — scene-structure analytics downstream of the "
    "reference's per-frame POSTs",
)(lambda spark: uav_extra.class_cooccurrence(spark.table("detections")))


_register(
    "ev_bot_regularity",
    """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
),
s AS (
  SELECT user_id, CAST(count(*) + 1 AS BIGINT) AS n_events,
         CAST(count(*) AS DOUBLE) AS n_gaps,
         CAST(sum(gap_us) AS DOUBLE) AS s1,
         CAST(sum(CAST(gap_us AS HUGEINT) * CAST(gap_us AS HUGEINT))
              AS DOUBLE) AS s2
  FROM g WHERE gap_us IS NOT NULL GROUP BY user_id
),
m AS (
  SELECT user_id, n_events, s1 / n_gaps AS mean_gap_us,
         sqrt(greatest((s2 - s1 * s1 / n_gaps) / (n_gaps - 1), 0.0))
           / (s1 / n_gaps) AS cv
  FROM s
)
SELECT user_id, n_events,
       round(mean_gap_us / 1000000.0 * 1000000) / 1000000 AS mean_gap_s,
       round(cv * 1000000) / 1000000 AS gap_cv,
       cv < 0.3 AS bot_flag
FROM m WHERE n_events >= 20 AND mean_gap_us > 0
""",
    notes="bot-likeness screen: coefficient of variation of inter-event "
    "gaps per user (metronomic traffic has cv << 1 — the behavioral "
    "complement of volume/value screens); one lag window + one "
    "user-keyed aggregate; mean/variance derive from EXACT integer "
    "moments (sum as long, sum-of-squares as decimal38/HUGEINT) "
    "converted to double once, with integer-scaled rounds — avg/"
    "stddev_samp double accumulation diverged across engines on an "
    "sf0.1 user whose mean sat exactly on the 6dp boundary (r10 "
    "full-sweep finding); variance clamped at 0 for metronomic users",
)(lambda spark: events_ops.bot_regularity_screen(spark))


_register(
    "emb_centroid_separation",
    """
WITH flat AS (
  SELECT label, CAST(unnest(range(len(embedding))) AS INT) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS (SELECT label, pos, avg(v) AS c FROM flat GROUP BY label, pos),
d AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(a.c * b.c) AS dot,
         sqrt(sum(a.c * a.c)) AS na, sqrt(sum(b.c * b.c)) AS nb
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY 1, 2
)
SELECT label_a, label_b, round(dot / (na * nb), 6) AS centroid_cosine
FROM d ORDER BY label_a, label_b
""",
    notes="label-pair centroid cosine matrix (inter-class separability "
    "— which labels a nearest-centroid classifier confuses); centroids "
    "from the posexplode layout, pair matrix is labels^2, cosine "
    "computed dimension-wise on joined centroid rows",
)(lambda spark: similarity.centroid_separation(spark))


_register(
    "rel_incremental_agg",
    """
SELECT CAST(o_orderdate AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue,
       round(round(sum(o_totalprice), 2) / count(*) * 1000000) / 1000000 AS avg_order
FROM orders GROUP BY 1 ORDER BY day
""",
    notes="incremental view maintenance: the Spark side MERGES a "
    "maintained base aggregate with the newest day's delta (partial-"
    "aggregate union — the warehouse refresh path); the oracle "
    "recomputes from scratch, so the value hash proves merge == "
    "recompute (the IVM correctness property); avg re-derives from "
    "mergeable count/sum",
)(lambda spark: relational.incremental_daily_revenue(spark))


_register(
    "rel_t_closeness",
    """
WITH cust AS (SELECT c_nationkey, c_acctbal FROM customer),
brk AS (
  SELECT quantile_cont(c_acctbal, 0.1) AS p1,
         quantile_cont(c_acctbal, 0.2) AS p2,
         quantile_cont(c_acctbal, 0.3) AS p3,
         quantile_cont(c_acctbal, 0.4) AS p4,
         quantile_cont(c_acctbal, 0.5) AS p5,
         quantile_cont(c_acctbal, 0.6) AS p6,
         quantile_cont(c_acctbal, 0.7) AS p7,
         quantile_cont(c_acctbal, 0.8) AS p8,
         quantile_cont(c_acctbal, 0.9) AS p9
  FROM cust
),
b AS (
  SELECT c_nationkey,
         CAST((c_acctbal > p1) AS INT) + CAST((c_acctbal > p2) AS INT)
       + CAST((c_acctbal > p3) AS INT) + CAST((c_acctbal > p4) AS INT)
       + CAST((c_acctbal > p5) AS INT) + CAST((c_acctbal > p6) AS INT)
       + CAST((c_acctbal > p7) AS INT) + CAST((c_acctbal > p8) AS INT)
       + CAST((c_acctbal > p9) AS INT) AS bucket
  FROM cust CROSS JOIN brk
),
gc AS (SELECT bucket, count(*) AS g_n FROM b GROUP BY bucket),
cc AS (
  SELECT c_nationkey, bucket, count(*) AS c_n
  FROM b GROUP BY c_nationkey, bucket
),
cl AS (SELECT c_nationkey, count(*) AS class_size FROM b GROUP BY c_nationkey),
tot AS (SELECT CAST(sum(g_n) AS DOUBLE) AS n_total FROM gc),
grid AS (
  SELECT cl.c_nationkey, cl.class_size, sp.bucket,
         coalesce(cc.c_n, 0) / CAST(cl.class_size AS DOUBLE) AS c_p,
         coalesce(gc.g_n, 0) / n_total AS g_p
  FROM cl
  CROSS JOIN (SELECT unnest(range(10)) AS bucket) sp
  LEFT JOIN cc ON cc.c_nationkey = cl.c_nationkey AND cc.bucket = sp.bucket
  LEFT JOIN gc ON gc.bucket = sp.bucket
  CROSS JOIN tot
),
emds AS (
  SELECT c_nationkey, class_size,
         sum(abs(cum_c - cum_g)) OVER (PARTITION BY c_nationkey) / 9.0
           AS emd
  FROM (
    SELECT *,
           sum(c_p) OVER w AS cum_c, sum(g_p) OVER w AS cum_g
    FROM grid
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY bucket
                 ROWS UNBOUNDED PRECEDING)
  )
)
SELECT c_nationkey, CAST(max(class_size) AS BIGINT) AS class_size,
       round(max(emd), 6) AS t_emd,
       max(emd) > 0.2 AS t_flag
FROM emds GROUP BY c_nationkey ORDER BY c_nationkey
""",
    notes="t-closeness (Li et al. ICDE'07) — the skewness-attack audit "
    "completing the k-anonymity/l-diversity triad: EMD between each "
    "class's sensitive-attribute decile distribution and the "
    "population's (sum |cumulative difference| / (m-1) over ordered "
    "buckets, per Li et al.'s ordered distance - the last bucket's "
    "cumdiff is identically 0, so /9 not /10); "
    "exact-percentile scalar breakpoints broadcast as literals, "
    "class x 10 grid, per-class 10-row cum windows",
)(lambda spark: relational.t_closeness_audit(spark))


_register(
    "media_audio_features",
    """
WITH aud AS (
  SELECT doc_id AS media_id, 200.0 + (doc_id % 200) AS freq
  FROM documents WHERE doc_id % 3 = 2
),
pcm AS (
  -- sine product snapped to the 2^-10 binary grid half-up BEFORE the
  -- trunc (r14, ADVICE r13): no numpy-vs-DuckDB libm sin identity is
  -- assumed — an ulp of disagreement only matters at a 1/2048 grid
  -- boundary (measure-zero), not at every integer crossing
  SELECT a.media_id, i.i AS i,
         CAST(trunc(floor(10000 * sin(((2 * pi()) * a.freq)
                                      * (i.i / 16000.0)) * 1024 + 0.5)
                    / 1024) AS BIGINT) AS v
  FROM aud a, unnest(generate_series(0, 7999)) AS i(i)
),
agg AS (
  SELECT media_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v * v) AS BIGINT) AS ss,
         CAST(max(abs(v)) AS INT) AS peak
  FROM pcm GROUP BY media_id
),
zc AS (
  SELECT a.media_id,
         CAST(count(*) FILTER (WHERE a.v * b.v < 0) AS BIGINT) AS crossings
  FROM pcm a JOIN pcm b ON b.media_id = a.media_id AND b.i = a.i + 1
  GROUP BY a.media_id
)
SELECT g.media_id, g.n AS n_samples,
       floor((CAST(g.n AS DOUBLE) / 16000.0) * 1e6 + 0.5) / 1e6 AS duration_s,
       floor(sqrt(CAST(g.ss AS DOUBLE) / g.n) * 1e6 + 0.5) / 1e6 AS rms,
       g.peak AS peak,
       floor((CAST(z.crossings AS DOUBLE) / (g.n - 1)) * 1e6 + 0.5) / 1e6
         AS zero_crossing_rate
FROM agg g JOIN zc z USING (media_id) ORDER BY g.media_id
""",
    notes="audio feature extraction over raw PCM payloads (real decode "
    "- no codec needed for PCM16): duration, RMS, peak, zero-crossing "
    "rate per clip via one Arrow mapInPandas pass; metadata filter "
    "precedes decode, payload never reaches a shuffle. PROMOTED "
    "rows-only -> fully oracled (r13): the corpus sine is closed-form "
    "(trunc(snap_1024(10000*sin(2*pi*f*t))) int16 — r14 adds the "
    "coarse-grid snap so no cross-libm sin identity is assumed), RMS "
    "derives from the "
    "BIGINT-exact sum of squares, ZCR from an integer crossing count, "
    "and all rounds use the engine-portable floor(x*1e6+0.5)/1e6 "
    "half-up (Python round() is half-even, SQL round() half-away) — "
    "so DuckDB resynthesizes the PCM and reproduces every double "
    "bit-for-bit; closed-form sine RMS/ZCR stay pinned in tests",
)(lambda spark: multimodal.extract_audio_features(multimodal.corpus_media(spark)))


def _wav_md5_fixture_paths() -> list[str]:
    """Build-once REAL WAV fixture (r16): 4 PCM16 mono 16 kHz files of
    8000 samples each, bytes md5-derived ('w<k>' — SQL-replayable),
    written through sources/wav.write_wav. Driver-side pure-Python build
    (16 KB per file)."""
    from uav_streamprocessor_spark.operators.multimodal import _md5_noise
    from uav_streamprocessor_spark.sources.wav import write_wav

    n_files, n_samples, rate = 4, 8000, 16000

    def write(tmp):
        for k in range(n_files):
            pcm = _md5_noise(f"w{k}", n_samples * 2).tobytes()
            write_wav(tmp / f"w{k}.wav", pcm, sample_rate=rate)

    return _build_once(
        f"uav_spark_wav_md5_fixture_v1_{n_files}x{n_samples}_{rate}hz",
        [f"w{k}.wav" for k in range(n_files)],
        write,
    )


_register(
    "media_wav_features",
    """
WITH f AS (SELECT unnest([0, 1, 2, 3]) AS k),
chunks AS MATERIALIZED (
  SELECT k, ci.ci AS ci, md5('w' || k || ':' || ci.ci) AS hx
  FROM f, unnest(generate_series(0, 999)) AS ci(ci)
),
b AS MATERIALIZED (
  SELECT k, ci * 16 + o.o AS p,
         (strpos('0123456789abcdef', substr(hx, o.o * 2 + 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, o.o * 2 + 2, 1)) - 1)
           AS v
  FROM chunks, unnest(generate_series(0, 15)) AS o(o)
),
-- int16 little-endian: sample i = byte(2i) + 256*byte(2i+1), signed
pcm AS MATERIALIZED (
  SELECT lo.k AS k, lo.p // 2 AS i,
         CAST(lo.v + 256 * hi.v
              - CASE WHEN hi.v >= 128 THEN 65536 ELSE 0 END AS BIGINT) AS v
  FROM b lo JOIN b hi ON hi.k = lo.k AND hi.p = lo.p + 1
  WHERE lo.p % 2 = 0
),
agg AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v * v) AS BIGINT) AS ss,
         CAST(max(abs(v)) AS INT) AS peak
  FROM pcm GROUP BY k
),
zc AS (
  SELECT a.k,
         CAST(count(*) FILTER (WHERE a.v * b.v < 0) AS BIGINT) AS crossings
  FROM pcm a JOIN pcm b ON b.k = a.k AND b.i = a.i + 1
  GROUP BY a.k
)
SELECT CAST(g.k AS BIGINT) AS media_id, g.n AS n_samples,
       floor((CAST(g.n AS DOUBLE) / 16000.0) * 1e6 + 0.5) / 1e6 AS duration_s,
       floor(sqrt(CAST(g.ss AS DOUBLE) / g.n) * 1e6 + 0.5) / 1e6 AS rms,
       g.peak AS peak,
       floor((CAST(z.crossings AS DOUBLE) / (g.n - 1)) * 1e6 + 0.5) / 1e6
         AS zero_crossing_rate
FROM agg g JOIN zc z USING (k) ORDER BY media_id
""",
    notes="audio features over REAL WAV containers (r16 — the codec-free "
    "audio-container lane, symmetric with the AVI video lane): RIFF "
    "chunk-walk + PCM16 extraction (sources/wav.py) feeding the same "
    "extract_audio_features pass as the in-memory corpus. Fixture PCM is "
    "md5-derived ('w<k>'), so the oracle regenerates the int16 samples "
    "from md5 hex parsing and reproduces duration/RMS/peak/ZCR "
    "bit-for-bit — any header-offset, block-align, or byte-order bug in "
    "the container layer shifts the samples and lands as a parity "
    "mismatch. RMS from the BIGINT-exact sum of squares; half-up 1e-6 "
    "rounds (the media_audio_features recipe)",
)(lambda spark: multimodal.extract_audio_features(
    multimodal.wav_media(spark, _wav_md5_fixture_paths())
).orderBy("media_id"))


def _wav_vad_fixture_paths() -> list[str]:
    """Build-once VAD fixture (r16): 4 one-second PCM16 WAV files
    ('vw<k>' md5 noise) with PLANTED digital silence — file k zeroes
    every (k+2)-th 400-sample window, so the four clips carry DIFFERENT
    activity cadences (50%, ~65%, 75%, 80% active) and the gate's
    discrimination is ground-truthed, not vacuous. Built in-process
    like the feature fixture."""
    import numpy as np

    from uav_streamprocessor_spark.operators.multimodal import _md5_noise
    from uav_streamprocessor_spark.sources.wav import write_wav

    n_files, n_samples, rate, win = 4, 16000, 16000, 400

    def write(tmp):
        for k in range(n_files):
            pcm = (
                _md5_noise(f"vw{k}", n_samples * 2)
                .view("<i2")
                .astype(np.int16)
                .copy()
            )
            for wdx in range(n_samples // win):
                if wdx % (k + 2) == 0:
                    pcm[wdx * win : (wdx + 1) * win] = 0
            write_wav(tmp / f"vw{k}.wav", pcm.tobytes(), sample_rate=rate)

    return _build_once(
        f"uav_spark_wav_vad_fixture_v1_{n_files}x{n_samples}_{rate}hz",
        [f"vw{k}.wav" for k in range(n_files)],
        write,
    )


_register(
    "media_audio_vad",
    """
WITH f AS (SELECT unnest([0, 1, 2, 3]) AS k),
chunks AS MATERIALIZED (
  SELECT k, ci.ci AS ci, md5('vw' || k || ':' || ci.ci) AS hx
  FROM f, unnest(generate_series(0, 1999)) AS ci(ci)
),
b AS MATERIALIZED (
  SELECT k, ci * 16 + o.o AS p,
         (strpos('0123456789abcdef', substr(hx, o.o * 2 + 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, o.o * 2 + 2, 1)) - 1)
           AS v
  FROM chunks, unnest(generate_series(0, 15)) AS o(o)
),
-- int16 LE samples, then the planted silence mask: file k zeroes every
-- (k+2)-th 400-sample window (the fixture's ground truth)
pcm AS MATERIALIZED (
  SELECT lo.k AS k, lo.p // 2 AS i,
         CASE WHEN ((lo.p // 2) // 400) % (lo.k + 2) = 0 THEN 0
              ELSE CAST(lo.v + 256 * hi.v
                   - CASE WHEN hi.v >= 128 THEN 65536 ELSE 0 END AS BIGINT)
         END AS v
  FROM b lo JOIN b hi ON hi.k = lo.k AND hi.p = lo.p + 1
  WHERE lo.p % 2 = 0
),
-- full windows only (ADVICE r16): the engine truncates a partial tail
-- window (pcm.size // w), so the oracle drops any sub-400-sample tail
-- group too — engine and oracle agree for ANY clip length, not just
-- the window-aligned fixture
win AS (
  SELECT k, w, ss FROM (
    SELECT k, i // 400 AS w, CAST(sum(v * v) AS BIGINT) AS ss,
           count(*) AS n_in_win
    FROM pcm GROUP BY k, i // 400
  ) WHERE n_in_win = 400
)
SELECT CAST(k AS BIGINT) AS media_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(count(*) FILTER (WHERE ss > 400000000) AS BIGINT) AS n_active,
       floor((CAST(count(*) FILTER (WHERE ss > 400000000) AS DOUBLE)
              / count(*)) * 1e6 + 0.5) / 1e6 AS speech_ratio,
       CAST(max(ss) AS BIGINT) AS max_window_ss
FROM win GROUP BY k ORDER BY media_id
""",
    notes="windowed-energy voice-activity gate over REAL WAV containers "
    "(r16) — the audio-curation step speech pipelines run before "
    "transcription/training: 25 ms windows, a window is active when its "
    "BIGINT-exact sum of squares clears the threshold (uniform-noise "
    "windows read ~1.4e11, planted digital silence exactly 0 — an "
    "integer compare ~350x from either class, zero boundary risk). "
    "Fixture plants a DIFFERENT silence cadence per file (every "
    "(k+2)-th window), so the four activity ratios are distinct ground "
    "truth the oracle replays bit-for-bit from md5-regenerated samples "
    "+ the same mask arithmetic; container layer signed by the same "
    "round trip as media_wav_features",
)(lambda spark: multimodal.audio_vad(
    multimodal.wav_media(spark, _wav_vad_fixture_paths())
).orderBy("media_id"))


_register(
    "media_scene_changes",
    """
WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 1),
chunks AS (
  SELECT ids.media_id, ci.ci,
         md5('v' || ids.media_id || ':' || ci.ci) AS hx
  FROM ids, unnest(generate_series(0, 191)) AS ci(ci)
),
vbytes AS (
  SELECT c.media_id, c.ci * 16 + o.o AS p,
         (strpos('0123456789abcdef', substr(c.hx, o.o * 2 + 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(c.hx, o.o * 2 + 2, 1)) - 1)
           AS b
  FROM chunks c, unnest(generate_series(0, 15)) AS o(o)
),
l3 AS (
  SELECT media_id, p // 768 AS f,
         ((p % 768) // 3) // 16 AS y, ((p % 768) // 3) % 16 AS x,
         CAST(sum(b) AS BIGINT) AS l
  FROM vbytes
  GROUP BY media_id, p // 768, ((p % 768) // 3) // 16, ((p % 768) // 3) % 16
),
-- frames 4..7 repeat frame 3 (planted static back half): their diffs
-- are exactly 0 and can never clear the 12.0 threshold, so only the
-- noise boundaries 1..3 need computing
diffs AS (
  SELECT a.media_id, b.f AS frame_index,
         CAST(sum(abs(b.l - a.l)) AS BIGINT) AS t_abs
  FROM l3 a
  JOIN l3 b ON b.media_id = a.media_id AND b.f = a.f + 1
            AND b.y = a.y AND b.x = a.x
  WHERE b.f <= 3
  GROUP BY a.media_id, b.f
)
SELECT media_id, CAST(frame_index AS INT) AS frame_index,
       floor((CAST(t_abs AS DOUBLE) / 768.0) * 1e6 + 0.5) / 1e6
         AS mean_abs_diff
FROM diffs WHERE CAST(t_abs AS DOUBLE) / 768.0 > 12.0
ORDER BY media_id, frame_index
""",
    notes="content-aware scene-change detection (mean |luma diff| "
    "between consecutive frames > threshold) over the typed media "
    "corpus - the reference's every-Nth decimation (uav/main.py:116) "
    "generalized to content-aware cut points; decode once per video "
    "inside the worker, only (id, frame, diff) leave the UDF. PROMOTED "
    "rows-only -> fully oracled (r13): video frames are md5-derived "
    "(_md5_noise 'v<id>'), the diff statistic is the BIGINT-exact "
    "|delta-luma3| sum (|delta-mean-luma| = |delta-luma3|/3), and the "
    "round is the portable half-up — DuckDB regenerates the frames and "
    "reproduces every cut bit-for-bit; the planted static back half is "
    "cut-free in tests AND provably zero in the oracle",
)(lambda spark: multimodal.video_scene_changes(multimodal.corpus_media(spark)))


_register(
    "media_frame_samples",
    """
WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 1),
fs AS (
  SELECT f.f AS frame_index, CASE WHEN f.f < 4 THEN f.f ELSE 3 END AS s
  FROM (SELECT unnest([0, 3, 6]) AS f) f
),
chunks AS (
  SELECT ids.media_id, fs.frame_index,
         md5('v' || ids.media_id || ':' || (fs.s * 48 + ci.ci)) AS hx
  FROM ids, fs, unnest(generate_series(0, 47)) AS ci(ci)
),
b AS (
  SELECT media_id, frame_index,
         (strpos('0123456789abcdef', substr(hx, o.o * 2 + 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, o.o * 2 + 2, 1)) - 1)
           AS b
  FROM chunks, unnest(generate_series(0, 15)) AS o(o)
)
SELECT media_id, CAST(frame_index AS INT) AS frame_index,
       CAST(16 AS INT) AS height, CAST(16 AS INT) AS width,
       CAST(sum(b) AS BIGINT) AS payload_sum,
       CAST(sum(b * b) AS BIGINT) AS payload_ss
FROM b GROUP BY media_id, frame_index
ORDER BY media_id, frame_index
""",
    notes="video frame sampling (every-Nth inside the container - F1 "
    "applied to video payloads): one row per sampled frame, demux in "
    "one mapInPandas pass. PROMOTED rows-only -> fully oracled (r14, "
    "VERDICT r13 #4): the registered surface is the exact integer "
    "content moments (S/SS over the decoded frame bytes — the "
    "media_image_features recipe) of every sampled frame, so the "
    "oracle checks frame CONTENT incl. the encode/decode round trip: "
    "corpus videos are 8 frames of which the back half repeats frame 3 "
    "(sampled 0,3,6 -> md5 source frames 0,3,3), and DuckDB "
    "regenerates the 'v<id>' md5 bytes chunk-for-chunk. The "
    "binary-payload form (frame_sample_video) stays the consumer API, "
    "count/shape-tested in test_round5d_ops.py",
)(lambda spark: multimodal.frame_sample_fingerprints(
    multimodal.corpus_media(spark), every_n=3
))


_register(
    "media_metadata_stats",
    """
SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'video'
       ELSE 'audio' END AS media_type,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(count(*) AS BIGINT) AS with_payload,
       avg(CASE doc_id % 3 WHEN 0 THEN 32 WHEN 1 THEN 16
           ELSE NULL END) AS avg_width
FROM documents GROUP BY 1
""",
    notes="metadata-only rollup over the typed media corpus; with a "
    "real lakehouse media table the payload column is pruned from the "
    "scan (ReadSchema excludes it - asserted in "
    "test_metadata_stats_prunes_payload). PROMOTED rows-only -> oracled "
    "(r11): corpus_media's METADATA is pure doc_id arithmetic "
    "(doc_id%3 -> modality, constant per-modality dims, payload always "
    "present), so the oracle replays it relationally from documents — "
    "only payload BYTES stay UDF-derived, and this query never reads "
    "them",
)(lambda spark: multimodal.media_metadata_stats(multimodal.corpus_media(spark)))


_register(
    "media_jpeg_roundtrip",
    """
SELECT doc_id AS media_id, TRUE AS shape_ok, TRUE AS psnr_ok
FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id
""",
    notes="the pure-numpy baseline JPEG codec (operators/jpeg.py, r12) "
    "signed into the correctness gate via the accuracy-contract form: "
    "every corpus image encodes at q=95 4:4:4 and decodes back through "
    "the full T.81 pipeline (DCT, Annex-K quant, canonical Huffman, "
    "entropy walk, batched IDCT), and the registered projection is the "
    "per-image verdict table (shape preserved, PSNR >= 30 dB). The "
    "floor is calibrated: worst-case PSNR over the seeded 32x32 noise "
    "population at q=95 measures 35.6 dB, so the constant-true oracle "
    "derived relationally from documents (doc_id % 3 = 0) is stable "
    "with >5 dB margin while any codec regression flips a row. "
    "Metadata filter precedes decode; payloads stay inside the Arrow "
    "mapInPandas pass",
)(lambda spark: multimodal.jpeg_roundtrip_audit(multimodal.corpus_media(spark)))


_register(
    "media_image_features",
    """
WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 0),
chunks AS (
  SELECT ids.media_id, ci.ci,
         md5('i' || ids.media_id || ':' || ci.ci) AS hx
  FROM ids, unnest(generate_series(0, 191)) AS ci(ci)
),
ibytes AS (
  SELECT c.media_id, c.ci * 16 + o.o AS p,
         (strpos('0123456789abcdef', substr(c.hx, o.o * 2 + 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(c.hx, o.o * 2 + 2, 1)) - 1)
           AS b
  FROM chunks c, unnest(generate_series(0, 15)) AS o(o)
),
mom AS (
  SELECT media_id, CAST(sum(b) AS BIGINT) AS s,
         CAST(sum(b * b) AS BIGINT) AS ss
  FROM ibytes GROUP BY media_id
),
l3 AS (
  SELECT media_id, (p // 3) // 32 AS y, (p // 3) % 32 AS x,
         CAST(sum(b) AS BIGINT) AS l
  FROM ibytes GROUP BY media_id, (p // 3) // 32, (p // 3) % 32
),
fpb AS (
  SELECT media_id, y // 8 AS by, x // 8 AS bx, CAST(sum(l) AS BIGINT) AS bs
  FROM l3 GROUP BY media_id, y // 8, x // 8
),
fps AS (
  SELECT media_id,
         '[' || string_agg(CAST(bs AS VARCHAR), ', ' ORDER BY by, bx) || ']'
           AS fp
  FROM fpb GROUP BY media_id
)
SELECT m.media_id,
       CAST(m.s AS DOUBLE) / 3072 AS mean_intensity,
       sqrt(CAST(m.ss AS DOUBLE) / 3072
            - (CAST(m.s AS DOUBLE) / 3072) * (CAST(m.s AS DOUBLE) / 3072))
         AS std_intensity,
       f.fp AS luma_fingerprint
FROM mom m JOIN fps f USING (media_id) ORDER BY m.media_id
""",
    notes="image feature extraction (mean/std intensity + 4x4 luma "
    "fingerprint) over the typed media corpus via one Arrow "
    "mapInPandas pass; decode once per row inside the worker. PROMOTED "
    "rows-only -> fully oracled (r13): corpus pixels are md5-derived "
    "(_md5_noise 'i<id>'), mean/std derive from BIGINT-exact S/SS with "
    "a fixed expression order (sqrt(SS/n - (S/n)^2)), and the "
    "fingerprint is the 4x4 grid of integer luma3 block SUMS as a JSON "
    "int list (lossless, no float rounding) — DuckDB regenerates the "
    "bytes and matches every column bit-for-bit; fingerprint "
    "invariants in test_multimodal_sources.py",
)(lambda spark: multimodal.extract_image_features(multimodal.corpus_media(spark)))


_register(
    "media_resized_thumbs",
    """
WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 0),
chunks AS (
  SELECT ids.media_id, ci.ci,
         md5('i' || ids.media_id || ':' || ci.ci) AS hx
  FROM ids, unnest(generate_series(0, 191)) AS ci(ci)
),
ib AS (
  SELECT media_id, ci * 16 + o.o AS p,
         (strpos('0123456789abcdef', substr(hx, o.o * 2 + 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, o.o * 2 + 2, 1)) - 1)
           AS b
  FROM chunks, unnest(generate_series(0, 15)) AS o(o)
),
kept AS (
  SELECT media_id, b FROM ib
  WHERE ((p // 3) // 32) % 2 = 0 AND ((p // 3) % 32) % 2 = 0
)
SELECT media_id, CAST(16 AS INT) AS height, CAST(16 AS INT) AS width,
       CAST(sum(b) AS BIGINT) AS payload_sum,
       CAST(sum(b * b) AS BIGINT) AS payload_ss
FROM kept GROUP BY media_id ORDER BY media_id
""",
    notes="batch thumbnail resize (square nearest-neighbor 32->16px) - "
    "the preprocess path before feature extraction/training. PROMOTED "
    "rows-only -> fully oracled (r14, VERDICT r13 #4): the registered "
    "surface is the exact integer content moments of every thumbnail; "
    "nearest-neighbor means output pixel (y,x) IS source pixel "
    "(2y,2x), so DuckDB replays the moments from the 'i<id>' md5 "
    "corpus with a stride-2 coordinate filter — content-checked incl. "
    "the encode/decode round trip, no float anywhere. The "
    "binary-payload form (resize_images) stays the consumer API; "
    "dimension contract in test_multimodal_sources.py",
)(lambda spark: multimodal.resized_thumb_fingerprints(
    multimodal.corpus_media(spark), target=16
))


_register(
    "text_compression_ratio",
    None,
    notes="zlib compression-ratio entropy gate (the model-free cousin "
    "of perplexity filtering): repetitive/templated text compresses "
    "hard, binary junk doesn't compress - both tails flagged; one "
    "Arrow-batched map-only UDF pass; rows-only (no zlib in SQL), "
    "planted tails + repetition correlation pinned in tests; since r15 "
    "the text_compression_bound accuracy-contract twin is oracled (the "
    "sketch *_bound pattern) - the last rows-only query without a "
    "shadow gets one",
)(lambda spark: text.compression_ratio_gate(spark))


_register(
    "text_compression_bound",
    """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN text IS NOT NULL AND strlen(text) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_nonempty,
       CAST(sum(CASE WHEN text IS NOT NULL AND strlen(text) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_within_bound,
       CAST(sum(CASE WHEN text IS NOT NULL AND strlen(text) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
       CAST(sum(CASE WHEN text IS NOT NULL AND strlen(text) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_consistent
FROM documents GROUP BY source ORDER BY source
""",
    notes="oracled accuracy-contract twin for text_compression_ratio "
    "(r15, the sketch *_bound pattern): runs the REAL zlib lane and "
    "counts per source the docs satisfying three PROVABLE contracts - "
    "compressed size within zlib's documented compressBound worst case "
    "(n + n/4096 + n/16384 + n/2^25 + 13 bytes), ratio strictly "
    "positive, and the published entropy_flag equal to the band "
    "recomputed from the published 6dp ratio; the oracle derives the "
    "same counts from count(*) arithmetic alone, so any zlib-lane "
    "breakage (encoding, truncation, column mix-up, flag refactor) "
    "lands as a count mismatch",
)(lambda spark: text.compression_contract(spark))


def _procrustes_oracle() -> str:
    """Unrolled-CTE DuckDB replay of procrustes_drift (r14 promotion,
    the BPE-generated-rounds pattern): quantized cross-covariance →
    Frobenius normalization → PROCRUSTES_ITERS rounds of the quantized
    Newton–Schulz polar iteration (two 64×64 matmuls per round, each an
    exact integer-scaled sum) → quantized per-pair residuals. Every
    aggregate sums exact multiples of a binary grid, so the replay is
    bit-identical to the engine in any summation order — see
    similarity.procrustes_rotation for the grid-ladder proof."""
    s20, s30, s40 = float(2**20), float(2**30), float(2**40)
    t = similarity.PROCRUSTES_ITERS
    rounds = []
    for r in range(t):
        rounds.append(f"""
y{r} AS MATERIALIZED (
  SELECT a.j AS i, b.j AS j,
         floor(sum(a.v * b.v) * {s20} + 0.5) / {s20} AS v
  FROM x{r} a JOIN x{r} b ON a.i = b.i GROUP BY a.j, b.j
),
xy{r} AS MATERIALIZED (
  SELECT a.i, y.j, sum(a.v * y.v) AS v
  FROM x{r} a JOIN y{r} y ON y.i = a.j GROUP BY a.i, y.j
),
x{r + 1} AS MATERIALIZED (
  SELECT x.i, x.j,
         floor((3.0 * x.v - xy.v) / 2.0 * {s20} + 0.5) / {s20} AS v
  FROM x{r} x JOIN xy{r} xy ON xy.i = x.i AND xy.j = x.j
)""")
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT CAST(o.vec_id // 2 AS BIGINT) AS pair_id,
         o.embedding AS a, n.embedding AS b, o.label
  FROM (SELECT vec_id, embedding, label FROM embeddings
        WHERE vec_id % 2 = 0) o
  JOIN (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % 2 = 1) n
    ON n.vec_id = o.vec_id + 1
),
m0 AS MATERIALIZED (
  SELECT ti.i, tj.j,
         sum(floor(CAST(p.a[ti.i + 1] AS DOUBLE)
                   * CAST(p.b[tj.j + 1] AS DOUBLE) * {s30} + 0.5) / {s30})
           AS m
  FROM pairs p,
       unnest(generate_series(0, 63)) ti(i),
       unnest(generate_series(0, 63)) tj(j)
  GROUP BY ti.i, tj.j
),
nrm AS (
  SELECT sqrt(sum(floor(m * m * {s40} + 0.5) / {s40})) AS nf FROM m0
),
x0 AS MATERIALIZED (
  SELECT i, j, floor(m / nf * {s20} + 0.5) / {s20} AS v FROM m0, nrm
),{",".join(rounds)},
ar AS (
  SELECT p.pair_id, r.j,
         sum(floor(CAST(p.a[r.i + 1] AS DOUBLE) * r.v * {s30} + 0.5)
             / {s30}) AS arj
  FROM pairs p, x{t} r
  GROUP BY p.pair_id, r.j
),
dif AS (
  SELECT ar.pair_id, ar.j,
         ar.arj - CAST(p.b[ar.j + 1] AS DOUBLE) AS d_al,
         CAST(p.a[ar.j + 1] AS DOUBLE) - CAST(p.b[ar.j + 1] AS DOUBLE)
           AS d_raw
  FROM ar JOIN pairs p USING (pair_id)
),
per_pair AS (
  SELECT pair_id,
         floor(sqrt(sum(floor(d_al * d_al * {s40} + 0.5) / {s40}))
               * {s30} + 0.5) / {s30} AS q_al,
         floor(sqrt(sum(floor(d_raw * d_raw * {s40} + 0.5) / {s40}))
               * {s30} + 0.5) / {s30} AS q_raw
  FROM dif GROUP BY pair_id
)
SELECT p.label, CAST(count(*) AS BIGINT) AS n_pairs,
       floor(sum(pp.q_raw) / count(*) * 1e6 + 0.5) / 1e6
         AS mean_residual_raw,
       floor(sum(pp.q_al) / count(*) * 1e6 + 0.5) / 1e6
         AS mean_residual_aligned
FROM per_pair pp JOIN pairs p USING (pair_id)
GROUP BY p.label ORDER BY p.label
"""


_register(
    "emb_procrustes_drift",
    _procrustes_oracle(),
    notes="orthogonal Procrustes snapshot alignment (Schonemann 1966) - "
    "the drift repair for long-lived vector stores after model "
    "refreshes: 64x64 cross-covariance from map-side-combinable "
    "posexplode pair products, polar iteration driver-side (model-sized "
    "math on the driver, data-sized passes on executors - the "
    "kmeans/codebook pattern), residuals per pair in one Arrow pass "
    "with R as a closure constant. PROMOTED rows-only -> fully oracled "
    "(r14, VERDICT r13 #4): LAPACK SVD replaced by a 36-round quantized "
    "Newton-Schulz polar iteration on the 2^-20 binary grid "
    "(similarity.procrustes_rotation), with every data-sized sum "
    "quantized to a binary grid BEFORE summing - exact integer-scaled "
    "sums make both engines bit-identical with ZERO summation-order "
    "exposure (stronger than the 1e-9-snap replays); the oracle unrolls "
    "the rounds as generated CTEs (the BPE pattern); planted-rotation "
    "recovery pinned in tests",
)(lambda spark: similarity.procrustes_drift(spark))


from pyspark.sql import functions as F  # noqa: E402

from uav_streamprocessor_spark.operators import graph  # noqa: E402

_register(
    "dedup_graph_modularity",
    _CC_GRAPH_CTE
    + """
, und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM e WHERE src <> dst
),
m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM und),
deg AS (
  SELECT node, count(*) AS degree
  FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
  GROUP BY node
),
dc AS (
  SELECT c.component AS community, count(*) AS n_nodes,
         sum(deg.degree) AS degree_sum
  FROM deg JOIN comp c ON c.node = deg.node GROUP BY c.component
),
ec AS (
  SELECT cu.component AS community, count(*) AS within_edges
  FROM und
  JOIN comp cu ON cu.node = und.u
  JOIN comp cv ON cv.node = und.v
  WHERE cu.component = cv.component
  GROUP BY cu.component
),
per AS (
  SELECT dc.community, dc.n_nodes,
         coalesce(ec.within_edges, 0) AS within_edges, dc.degree_sum,
         coalesce(ec.within_edges, 0) / m.m
           - pow(dc.degree_sum / (2 * m.m), 2) AS contribution
  FROM dc LEFT JOIN ec USING (community) CROSS JOIN m
),
qt AS (SELECT sum(contribution) AS q FROM per)
SELECT community, CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(within_edges AS BIGINT) AS within_edges,
       CAST(degree_sum AS BIGINT) AS degree_sum,
       round(contribution, 6) AS contribution,
       round(q, 6) AS modularity_q
FROM per CROSS JOIN qt ORDER BY community
""",
    notes="Newman modularity of the dup-cluster partition over the "
    "blocking graph (Q near 1 = tight isolated template families, "
    "near 0 = hairball blocking keys -> conservative collapse policy); "
    "undirected-simple normalization, two label equi-joins, "
    "communities-sized fold, scalar m broadcast — fully value-checked "
    "incl. the recursive-CTE CC labels",
)(lambda spark: graph.modularity(
    dedup.doc_block_edges(spark),
    dedup.doc_dup_clusters(spark).select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("community")
    ),
))


_register(
    "emb_dbscan_lite",
    """
WITH RECURSIVE nbr AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.35
),
counts AS (SELECT va AS vec_id, count(*) AS n FROM nbr GROUP BY va),
core AS (SELECT vec_id FROM counts WHERE n >= 2),
ce AS (
  SELECT n.va AS src, n.vb AS dst FROM nbr n
  JOIN core c1 ON c1.vec_id = n.va
  JOIN core c2 ON c2.vec_id = n.vb
  WHERE n.va < n.vb
),
e2 AS (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce),
nodes AS (SELECT DISTINCT src AS node FROM e2),
reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e2.dst, r.lbl FROM reach r JOIN e2 ON e2.src = r.node
),
comp AS (SELECT node AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY node),
core_labeled AS (
  SELECT c.vec_id, coalesce(comp.cluster_id, c.vec_id) AS cluster_id,
         'core' AS role
  FROM core c LEFT JOIN comp ON comp.vec_id = c.vec_id
),
border AS (
  SELECT n.va AS vec_id, min(cl.cluster_id) AS cluster_id, 'border' AS role
  FROM nbr n JOIN core_labeled cl ON cl.vec_id = n.vb
  WHERE n.va NOT IN (SELECT vec_id FROM core)
  GROUP BY n.va
),
lab AS (SELECT * FROM core_labeled UNION ALL SELECT * FROM border)
SELECT e.vec_id, lab.cluster_id AS cluster_id,
       coalesce(lab.role, 'noise') AS role
FROM embeddings e LEFT JOIN lab ON lab.vec_id = e.vec_id
ORDER BY e.vec_id
""",
    notes="exact relational DBSCAN (Ester et al. KDD'96): cosine >= "
    "0.35 neighbors, core = >= 2 neighbors, clusters = CC of the "
    "core-core graph (deterministic min-id labels - no frontier-order "
    "dependence), border attaches to its min core neighbor, rest is "
    "noise; pair stage is the broadcast cosine shape (LSH-bucketed at "
    "100 TB), components ride graph.connected_components; fully "
    "value-checked incl. the recursive-CTE components",
)(lambda spark: similarity.dbscan_lite(spark))


_register(
    "ev_experiment_readout",
    """
WITH users AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
              AS INT) AS converted
  FROM events GROUP BY user_id
),
arms AS (
  SELECT CAST(user_id % 2 AS INT) AS variant,
         CAST(count(*) AS DOUBLE) AS n_users,
         CAST(sum(converted) AS DOUBLE) AS n_converted
  FROM users GROUP BY 1
),
wide AS (
  SELECT sum(CASE WHEN variant = 0 THEN n_users END) AS n0,
         sum(CASE WHEN variant = 0 THEN n_converted END) AS c0,
         sum(CASE WHEN variant = 1 THEN n_users END) AS n1,
         sum(CASE WHEN variant = 1 THEN n_converted END) AS c1
  FROM arms
),
stats AS (
  SELECT *, c0 / n0 AS p0, c1 / n1 AS p1,
         (c0 + c1) / (n0 + n1) AS p_pool
  FROM wide
),
z AS (
  SELECT *, (p1 - p0) / nullif(
           sqrt(p_pool * (1 - p_pool) * (1.0/n0 + 1.0/n1)), 0.0) AS z
  FROM stats
)
SELECT variant, CAST(n_users AS BIGINT) AS n_users,
       CAST(n_converted AS BIGINT) AS n_converted,
       round(n_converted / n_users, 6) AS conv_rate,
       round(p1 - p0, 6) AS lift_abs,
       round(z.z, 6) AS z_stat,
       abs(z.z) > 1.959964 AS significant_95
FROM arms CROSS JOIN z ORDER BY variant
""",
    notes="experiment decision readout completing the kit (SRM gate -> "
    "power design -> CUPED variance -> THIS): per-variant heavy-"
    "purchaser conversion (>= 14 purchases - the binary any-purchase "
    "rule is degenerate on this corpus) + pooled two-proportion z, "
    "nullif-guarded; arithmetic over 2 rows after one per-user count; "
    "same user_id %% 2 assignment",
)(lambda spark: events_ops.experiment_readout(spark))


_register(
    "rel_rfm_segmentation",
    """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day, o_totalprice
  FROM orders
),
mx AS (SELECT max(day) AS max_day FROM o),
pc AS (
  SELECT o_custkey,
         min(max_day - day) AS recency_days,
         count(*) AS frequency,
         sum(o_totalprice) AS monetary
  FROM o CROSS JOIN mx GROUP BY o_custkey
),
bp AS (
  SELECT quantile_cont(recency_days, 0.2) AS r20, quantile_cont(recency_days, 0.4) AS r40,
         quantile_cont(recency_days, 0.6) AS r60, quantile_cont(recency_days, 0.8) AS r80,
         quantile_cont(frequency, 0.2) AS f20, quantile_cont(frequency, 0.4) AS f40,
         quantile_cont(frequency, 0.6) AS f60, quantile_cont(frequency, 0.8) AS f80,
         quantile_cont(monetary, 0.2) AS m20, quantile_cont(monetary, 0.4) AS m40,
         quantile_cont(monetary, 0.6) AS m60, quantile_cont(monetary, 0.8) AS m80
  FROM pc
),
scored AS (
  SELECT o_custkey,
         6 - (1 + CAST(recency_days > r20 AS INT) + CAST(recency_days > r40 AS INT)
                + CAST(recency_days > r60 AS INT) + CAST(recency_days > r80 AS INT)) AS r_score,
         1 + CAST(frequency > f20 AS INT) + CAST(frequency > f40 AS INT)
           + CAST(frequency > f60 AS INT) + CAST(frequency > f80 AS INT) AS f_score,
         1 + CAST(monetary > m20 AS INT) + CAST(monetary > m40 AS INT)
           + CAST(monetary > m60 AS INT) + CAST(monetary > m80 AS INT) AS m_score
  FROM pc CROSS JOIN bp
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_customers,
       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champions'
            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
            WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_returning'
            WHEN r_score <= 2 AND f_score <= 2 AND m_score <= 2 THEN 'hibernating'
            ELSE 'core' END AS segment
FROM scored GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
""",
    notes="RFM customer segmentation: 1-5 quintile scores per dimension "
    "against exact population breakpoints (recency inverted), counted "
    "per (R,F,M) cell with conventional corner names; breakpoints are "
    "one exact-percentile scalar aggregate broadcast back - no global "
    "window; ties to the lower score identically in both engines",
)(lambda spark: relational.rfm_segmentation(spark))


# ---------------------------------------------------------------------------
# round 7: training-mix curation additions (split leakage, source quota,
# length bucketing, exact source-overlap matrix)
# ---------------------------------------------------------------------------


_register(
    "dedup_split_leakage",
    """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(ws) - 2),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
  FROM t
),
pairs AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         round(len(list_intersect(a.grams, b.grams)) * 1.0
               / len(list_distinct(list_concat(a.grams, b.grams))), 6)
           AS jaccard3
  FROM g a JOIN g b
    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5
),
sp AS (
  SELECT doc_id_a, doc_id_b, jaccard3,
         CASE WHEN doc_id_a % 10 < 8 THEN 'train'
              WHEN doc_id_a % 10 = 8 THEN 'val' ELSE 'test' END AS split_a,
         CASE WHEN doc_id_b % 10 < 8 THEN 'train'
              WHEN doc_id_b % 10 = 8 THEN 'val' ELSE 'test' END AS split_b
  FROM pairs WHERE jaccard3 > 0
)
SELECT doc_id_a, doc_id_b, split_a, split_b, jaccard3
FROM sp WHERE split_a <> split_b
""",
    notes="cross-split near-dup leakage audit: near-dup pairs (bounded "
    "word-3-gram Jaccard, same candidate set as dedup_ngram_jaccard) "
    "whose docs landed in different train/val/test splits (doc_id % 10 "
    "-> 80/10/10) - each pair is eval contamination; pair source swaps "
    "to MinHash candidates at 100 TB (audit is pair-source-agnostic)",
)(lambda spark: dedup.split_leakage_pairs(spark))


_register(
    "text_source_quota",
    """
WITH r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id
         ) AS INT) AS quota_rank
  FROM documents
)
SELECT doc_id, source, quota_rank,
       CAST(CASE WHEN quota_rank <= 10 THEN 1 ELSE 0 END AS INT) AS kept
FROM r
""",
    notes="per-source document quota (anti-dominance cap, top-10 by "
    "length with doc_id tie-break): doc-level kept/dropped audit trail "
    "rather than a silently filtered set; one source-partitioned "
    "row_number window, no global sort",
)(lambda spark: text.source_quota(spark))


_register(
    "text_length_buckets",
    """
WITH b AS (
  SELECT lang, n_chars,
         CAST(ntile(8) OVER (
           PARTITION BY lang ORDER BY n_chars, doc_id
         ) AS INT) AS bucket
  FROM documents
)
SELECT lang, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(max(n_chars) * count(*) - sum(n_chars) AS BIGINT)
         AS padding_waste
FROM b GROUP BY lang, bucket ORDER BY lang, bucket
""",
    notes="length-bucketed batch-scheduling stats: lang-partitioned "
    "ntile(8) over (n_chars, doc_id) with per-bucket padding waste "
    "(bucket_max*count - sum) - the pad cost bucketing minimizes; "
    "windows stay partitioned, rollup is a partial agg",
)(lambda spark: text.length_buckets(spark))


_register(
    "text_source_overlap",
    """
WITH t AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS ws FROM documents
),
g0 AS (
  SELECT source,
         list_distinct(list_transform(
           generate_series(1, len(ws) - 2),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
  FROM t
),
sg AS (
  SELECT DISTINCT source, unnest(grams) AS gram FROM g0
),
ps AS (SELECT source, count(*) AS n_grams FROM sg GROUP BY source),
sh AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared_grams
  FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared_grams,
       round(n_shared_grams * 1.0 / pa.n_grams, 6) AS containment_a,
       round(n_shared_grams * 1.0 / pb.n_grams, 6) AS containment_b
FROM sh
JOIN ps pa ON pa.source = sh.source_a
JOIN ps pb ON pb.source = sh.source_b
ORDER BY source_a, source_b
""",
    notes="exact pairwise source-overlap matrix (distinct shared word-"
    "3-grams + containment both ways) - the inter-source duplication "
    "audit; EXACT calibration twin of the HLL/top-k sketch-overlap ops "
    "(the 100 TB path); gram-keyed join bounded by sources^2 per gram, "
    "never corpus^2",
)(lambda spark: text.source_overlap_exact(spark))


_register(
    "dedup_containment",
    """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(ws) - 2),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
  FROM t
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       round(len(list_intersect(a.grams, b.grams)) * 1.0
             / len(a.grams), 6) AS containment_ab,
       round(len(list_intersect(a.grams, b.grams)) * 1.0
             / len(b.grams), 6) AS containment_ba,
       round(len(list_intersect(a.grams, b.grams)) * 1.0
             / len(list_distinct(list_concat(a.grams, b.grams))), 6)
         AS jaccard3
FROM g a JOIN g b
  ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5
WHERE len(a.grams) > 0 AND len(b.grams) > 0
  AND len(list_intersect(a.grams, b.grams)) * 1.0
      / least(len(a.grams), len(b.grams)) >= 0.05
""",
    notes="directional containment dedup (Broder): |A∩B|/|A| vs |A∩B|/"
    "|B| on the bounded id-block pair sample - catches the short-doc-"
    "quoted-inside-long-doc dups that symmetric Jaccard dilutes below "
    "any threshold (jaccard3 reported alongside to show the gap); "
    "same bounded candidate shape as dedup_ngram_jaccard, LSH "
    "candidates at 100 TB",
)(lambda spark: dedup.containment_pairs(spark))


_register(
    "rel_compaction_plan",
    """
WITH c AS (
  SELECT source, doc_id, n_chars,
         sum(n_chars) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_chars AS bytes_before
  FROM documents
),
b AS (
  SELECT source, CAST(floor(bytes_before / 4000) AS INT) AS bin_id, n_chars
  FROM c
)
SELECT source, bin_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_chars) AS BIGINT) AS total_bytes,
       round(CAST(sum(n_chars) AS DOUBLE) / 4000, 6) AS fill_ratio
FROM b GROUP BY source, bin_id ORDER BY source, bin_id
""",
    notes="small-file compaction planner (Delta OPTIMIZE / Iceberg "
    "rewrite shape): next-fit byte-boundary binning per table "
    "partition via one partition-keyed running-sum window; "
    "embarrassingly parallel across partitions; output is the per-"
    "output-file manifest with fill ratio",
)(lambda spark: relational.compaction_plan(spark))


_register(
    "ev_mad_outliers",
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, median(n_events) AS med FROM daily GROUP BY 1
),
dev AS (
  SELECT d.event_type, d.day, d.n_events,
         abs(d.n_events - m.med) AS absdev
  FROM daily d JOIN med m ON m.event_type = d.event_type
),
mad AS (
  SELECT event_type, median(absdev) AS mad FROM dev GROUP BY 1
)
SELECT dev.event_type, dev.day,
       CAST(dev.n_events AS BIGINT) AS n_events,
       round(dev.absdev / (1.4826 * nullif(mad.mad, 0.0)), 6) AS robust_z,
       coalesce(CAST(dev.absdev / (1.4826 * nullif(mad.mad, 0.0)) > 3.0
                     AS INT), 0) AS is_outlier
FROM dev JOIN mad ON mad.event_type = dev.event_type
ORDER BY dev.event_type, dev.day
""",
    notes="median/MAD robust outlier days per event type (robust_z = "
    "absdev/(1.4826*MAD), 50% breakdown point - the robust twin of the "
    "CUSUM/prequential monitors); exact medians on the tiny per-type "
    "day series broadcast back, heavy work is one count shuffle; "
    "MAD=0 -> NULL z, no flag",
)(lambda spark: events_ops.mad_outlier_days(spark))


_register(
    "emb_cosine_histogram",
    """
WITH p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS va, b.embedding AS vb
  FROM embeddings a JOIN embeddings b
    ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 25
),
el AS (
  SELECT id_a, id_b,
         CAST(unnest(va) AS DOUBLE) AS xa,
         CAST(unnest(vb) AS DOUBLE) AS xb
  FROM p
),
cosines AS (
  SELECT id_a, id_b,
         round(sum(xa * xb) / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb))), 6)
           AS cosine
  FROM el GROUP BY id_a, id_b
)
SELECT floor(cosine * 10) / 10.0 AS bin,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(cosine), 6) AS avg_cosine,
       round(min(cosine), 6) AS min_cosine,
       round(max(cosine), 6) AS max_cosine
FROM cosines GROUP BY 1 ORDER BY 1
""",
    notes="pairwise-cosine calibration histogram on the deterministic "
    "id-block pair sample (n*width pairs, never n^2): the curve a "
    "near-dup/SemDeDup threshold is read off of; JVM zip_with cosine, "
    "0.1 bins on the 6dp-rounded value so engines bin identically; at "
    "100 TB the pair sample comes from the LSH candidates instead",
)(lambda spark: similarity.cosine_histogram(spark))


_register(
    "ev_bounce_rate",
    """
WITH e AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
),
flags AS (
  SELECT user_id, us,
         CASE WHEN us - lag(us) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) > 30 * 60 * 1000000 OR lag(us) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) IS NULL THEN 1 ELSE 0 END AS new_sess
  FROM e
),
sess AS (
  SELECT user_id, us,
         sum(new_sess) OVER (
           PARTITION BY user_id ORDER BY us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_seq
  FROM flags
),
per_sess AS (
  SELECT user_id, session_seq, count(*) AS n_events,
         min(us) // 1000000 AS start_epoch
  FROM sess GROUP BY user_id, session_seq
)
SELECT CAST(to_timestamp(start_epoch) AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS bounce_rate,
       round(avg(n_events), 6) AS avg_session_events
FROM per_sess GROUP BY 1 ORDER BY 1
""",
    notes="daily bounce rate (single-event sessions / sessions, by "
    "session-start day) on the shared gaps-and-islands sessionizer - "
    "the engagement KPI next to DAU; two map-side-combinable rollups "
    "over the user-partitioned session frame, no new shuffle shapes",
)(lambda spark: events_ops.bounce_rate_daily(spark))


_register(
    "text_chunk_manifest",
    """
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
n AS (
  SELECT doc_id, n_tokens,
         greatest(1, CAST(ceil((n_tokens - 8) / 56.0) AS INT)) AS n_chunks
  FROM d
)
SELECT doc_id,
       CAST(c AS INT) AS chunk_id,
       CAST(c * 56 AS BIGINT) AS start_token,
       CAST(least(c * 56 + 64, n_tokens) AS BIGINT) AS end_token,
       CAST(least(c * 56 + 64, n_tokens) - c * 56 AS BIGINT)
         AS n_chunk_tokens
FROM n, unnest(range(n_chunks)) AS t(c)
""",
    notes="context-window chunking manifest (64-token chunks, 8 overlap "
    "-> stride 56): the plan stage computes (doc, chunk, token range) "
    "from token counts alone - map-only, zero shuffles, bodies never "
    "move; final chunk short, its true length reported",
)(lambda spark: text.chunk_manifest(spark))


def _pca_spectrum_oracle() -> str:
    """Recursive-CTE DuckDB replay of the quantized parallel-Jacobi PCA
    eigensolve (r15 promotion; the markov recursive-replay pattern with
    the procrustes exact-grid ladder). Stage 1 rebuilds the quantized
    covariance from EXACT integer sums (components snapped to the 2^-20
    grid, int64 products, SUM exact — bit-identical to the engine's
    Python-int combine in any order). Stage 2 iterates
    PCA_JACOBI_SWEEPS·63 rounds of the circle-method disjoint-pair
    rotation schedule over the row-major 4096-element matrix list: the
    rotation coefficients use only correctly-rounded IEEE ops (divide /
    sqrt / abs — no libm), and each of the four update terms is snapped
    to the 2^-40 grid BEFORE the 4-term sum, so every round is
    bit-identical to similarity._pca_quantized_jacobi. Stage 3 ranks the
    diagonal (desc, index tiebreak) and emits the half-up 1e-6-snapped
    spectrum — byte-equal to the engine output."""
    if similarity.PCA_ORACLE_DIM != 64:  # pragma: no cover — loud guard
        raise ValueError(
            "this generated oracle bakes 64/63/65/4096 into its rotation "
            "schedule; regenerate it for PCA_ORACLE_DIM="
            f"{similarity.PCA_ORACLE_DIM} (the engine asserts the same "
            "constant in _pca_quantized_cov, so a width change fails "
            "loudly on both sides)"
        )
    s20, s40 = float(2**20), float(2**40)
    rounds = similarity.PCA_JACOBI_SWEEPS * (similarity.PCA_ORACLE_DIM - 1)
    # shorthand generators for the lambda bodies (list_extract is 1-based)
    def ext(lst: str, expr: str) -> str:
        return f"list_extract({lst}, {expr})"

    mi_i = ext("c.mi", "i + 1")
    apq = ext("c.m", f"least(i, {mi_i}) * 64 + greatest(i, {mi_i}) + 1")
    th = (
        f"(({ext('c.m', f'greatest(i, {mi_i}) * 65 + 1')}"
        f" - {ext('c.m', f'least(i, {mi_i}) * 65 + 1')})"
        f" / (2.0 * {apq}))"
    )
    tl_i = ext("d.tl", "i + 1")
    alpha_of_t = f"(1.0 / sqrt({tl_i} * {tl_i} + 1.0))"
    a_i = ext("e.alpha", "(ij // 64) + 1")
    a_j = ext("e.alpha", "(ij % 64) + 1")
    b_i = ext("e.beta", "(ij // 64) + 1")
    b_j = ext("e.beta", "(ij % 64) + 1")
    m_i = ext("e.mi", "(ij // 64) + 1")
    m_j = ext("e.mi", "(ij % 64) + 1")
    return f"""
WITH RECURSIVE qx AS MATERIALIZED (
  SELECT e.vec_id, t.i,
         CAST(floor(CAST(e.embedding[t.i + 1] AS DOUBLE) * {s20} + 0.5)
              AS BIGINT) AS xi
  FROM embeddings e, unnest(generate_series(0, 63)) t(i)
),
sums AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, SUM(a.xi * b.xi) AS sxy
  FROM qx a JOIN qx b ON a.vec_id = b.vec_id GROUP BY a.i, b.i
),
svec AS MATERIALIZED (
  SELECT i, SUM(xi) AS sx, COUNT(*) AS n FROM qx GROUP BY i
),
cov AS MATERIALIZED (
  SELECT s.i, s.j,
         floor(((CAST(s.sxy AS DOUBLE) / v1.n / {s20 * s20})
                - ((CAST(v1.sx AS DOUBLE) / v1.n / {s20})
                   * (CAST(v2.sx AS DOUBLE) / v2.n / {s20}))) * {s40} + 0.5)
           / {s40} AS v
  FROM sums s JOIN svec v1 ON v1.i = s.i JOIN svec v2 ON v2.i = s.j
),
init AS MATERIALIZED (
  SELECT list(v ORDER BY i * 64 + j) AS m FROM cov
),
jac AS (
  SELECT 0 AS r, m FROM init
  UNION ALL
  SELECT e.r + 1,
    list_transform(range(0, 4096), ij ->
        floor((({a_i} * {a_j})
               * list_extract(e.m, ij + 1)) * {s40} + 0.5) / {s40}
      + floor((({a_i} * {b_j})
               * list_extract(e.m, (ij // 64) * 64 + {m_j} + 1))
              * {s40} + 0.5) / {s40}
      + floor((({b_i} * {a_j})
               * list_extract(e.m, {m_i} * 64 + (ij % 64) + 1))
              * {s40} + 0.5) / {s40}
      + floor((({b_i} * {b_j})
               * list_extract(e.m, {m_i} * 64 + {m_j} + 1))
              * {s40} + 0.5) / {s40}
    ) AS m
  FROM (
    SELECT d.r, d.m, d.mi,
           list_transform(range(0, 64), i -> {alpha_of_t}) AS alpha,
           list_transform(range(0, 64), i ->
             (CASE WHEN i < {ext('d.mi', 'i + 1')} THEN -1.0 ELSE 1.0 END)
             * ({tl_i} * {alpha_of_t})) AS beta
    FROM (
      SELECT c.r, c.m, c.mi,
             list_transform(range(0, 64), i ->
               CASE WHEN {apq} = 0.0 THEN 0.0
                    ELSE (CASE WHEN {th} >= 0.0 THEN 1.0 ELSE -1.0 END)
                         / (abs({th}) + sqrt({th} * {th} + 1.0))
               END) AS tl
      FROM (
        SELECT j.r, j.m,
               list_transform(range(0, 64), i ->
                 CASE WHEN i = 63 THEN (j.r % 63 + 63) % 63
                      WHEN ((2 * j.r - i) % 63 + 63) % 63 = i THEN 63
                      ELSE ((2 * j.r - i) % 63 + 63) % 63 END) AS mi
        FROM jac j WHERE j.r < {rounds}
      ) c
    ) d
  ) e
),
diag AS (
  SELECT t.i, list_extract(f.m, t.i * 65 + 1) AS ev
  FROM (SELECT m FROM jac WHERE r = {rounds}) f,
       unnest(generate_series(0, 63)) t(i)
),
ranked AS (
  SELECT row_number() OVER (ORDER BY ev DESC, i) - 1 AS component, ev
  FROM diag
),
tot AS (SELECT SUM(ev) AS total FROM diag)
SELECT CAST(r.component AS INT) AS component,
       floor(r.ev * 1e6 + 0.5) / 1e6 AS eigenvalue,
       CASE WHEN t.total = 0 THEN NULL
            ELSE floor((r.ev / t.total) * 1e6 + 0.5) / 1e6 END
         AS explained_ratio,
       CASE WHEN t.total = 0 THEN NULL
            ELSE floor((SUM(r.ev) OVER (ORDER BY r.component)
                        / t.total) * 1e6 + 0.5) / 1e6 END
         AS cumulative_ratio
FROM ranked r, tot t ORDER BY component
"""


_register(
    "emb_pca_spectrum",
    _pca_spectrum_oracle(),
    notes="PCA eigenvalue spectrum of the embedding covariance via the "
    "D^2-bounded distributed reduction (per-batch EXACT int64 partials "
    "n/Sum x/X^T X on the 2^-20 input grid, arbitrary-precision driver "
    "combine - model budget, corpus never shuffles). PROMOTED rows-only "
    "-> fully oracled (r15, VERDICT r14 #3): driver eigh replaced by a "
    "fixed 630-round quantized parallel-ordering Jacobi (circle-method "
    "disjoint pairs; rotation coefficients from correctly-rounded IEEE "
    "divide/sqrt/abs only; all four update terms snapped to the 2^-40 "
    "grid BEFORE the exact 4-term sum - zero summation-order exposure), "
    "which the DuckDB oracle replays bit-for-bit as ONE recursive-CTE "
    "step per round over the row-major matrix list; off-diagonal mass "
    "is exactly 0 by sweep 7 at all three SFs (10 sweeps run), "
    "eigenvalues match LAPACK to ~4e-11; trace invariant still pinned "
    "by the emb_pca_trace_identity shadow",
)(lambda spark: similarity.pca_spectrum(
    spark, expected_dim=similarity.PCA_ORACLE_DIM
))


_register(
    "emb_pca_trace_identity",
    """
WITH flat AS (
  SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
         CAST(unnest(range(len(embedding))) AS INT) AS dim
  FROM embeddings
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
       CAST(count(DISTINCT dim) AS INT) AS dim,
       round(sum(v), 6) AS total_variance
FROM (SELECT dim, var_pop(x) AS v FROM flat GROUP BY dim)
""",
    notes="oracled shadow for emb_pca_spectrum (VERDICT r8 #5): Spark "
    "runs the full distributed covariance reduction + driver eigh and "
    "reports sum(lambda); the oracle computes sum of per-dim var_pop in "
    "plain SQL - trace(Cov) identity, so a 6-decimal match proves the "
    "partial-combine arithmetic, covariance assembly, and eigensolve",
)(lambda spark: similarity.pca_trace_identity(spark))


_register(
    "ev_markov_transition_counts",
    """
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         coalesce(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS seen
  FROM events
),
kept AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM seq WHERE seen = 0
),
trans AS (
  SELECT event_type AS prev_state,
         CASE WHEN event_type = 'purchase' THEN NULL
              ELSE coalesce(next_type, '__drop__') END AS next_state
  FROM kept
)
SELECT prev_state, next_state, CAST(count(*) AS BIGINT) AS n
FROM trans WHERE next_state IS NOT NULL
GROUP BY prev_state, next_state ORDER BY prev_state, next_state
""",
    notes="the distributed half of ev_markov_absorption as a standalone "
    "oracled query (VERDICT r8 #5): per-user sequences truncated at the "
    "first purchase (absorbing) or terminated into '__drop__', reduced "
    "to the (prev_state, next_state, n) table the fundamental-matrix "
    "solve consumes; one window pass + a types^2 map-side-combined count",
)(lambda spark: events_ops.markov_transition_counts(spark))


_register(
    "ev_markov_absorption_mass",
    """
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         coalesce(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS seen
  FROM events
),
kept AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM seq WHERE seen = 0
),
trans AS (
  SELECT event_type AS prev_state,
         CASE WHEN event_type = 'purchase' THEN NULL
              ELSE coalesce(next_type, '__drop__') END AS next_state
  FROM kept
)
SELECT DISTINCT prev_state AS state, 1.0 AS absorbed_mass
FROM trans WHERE next_state IS NOT NULL
ORDER BY state
""",
    notes="conservation shadow of the rows-only ev_markov_absorption "
    "(the absorption-probability analogue of emb_pca_trace_identity): "
    "every transient state's absorption probabilities must sum to "
    "exactly 1 because (I-Q)*1 = R*1 — the oracle derives the same "
    "transient-state list relationally and asserts mass 1.0 per state, "
    "signing truncation window -> count table -> row normalization -> "
    "linear solve end-to-end; Spark sums B's columns UNROUNDED before "
    "the 6dp round (solver error ~1e-15)",
)(lambda spark: events_ops.markov_absorption_mass(spark))


_register(
    "ev_kaplan_meier",
    """
WITH spans AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_day,
         max(CAST(ts AS DATE)) AS last_day
  FROM events GROUP BY user_id
),
obs AS (SELECT max(last_day) AS obs_end FROM spans),
users AS (
  SELECT CAST(user_id % 2 AS INT) AS variant,
         CAST(datediff('day', first_day, last_day) AS INT) AS t_days,
         CASE WHEN datediff('day', last_day, obs_end) < 3
              THEN 1 ELSE 0 END AS censored
  FROM spans, obs
),
lt AS (
  SELECT variant, t_days,
         CAST(sum(1 - censored) AS BIGINT) AS n_churned,
         CAST(sum(censored) AS BIGINT) AS n_censored
  FROM users GROUP BY variant, t_days
),
risk AS (
  SELECT *, CAST(sum(n_churned + n_censored) OVER (
      PARTITION BY variant ORDER BY t_days
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
      AS n_at_risk
  FROM lt
)
SELECT variant, t_days, n_at_risk, n_churned, n_censored,
       round(exp(sum(ln(greatest(
           1.0 - n_churned / CAST(n_at_risk AS DOUBLE), 1e-300)))
         OVER (PARTITION BY variant ORDER BY t_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
         AS survival
FROM risk ORDER BY variant, t_days
""",
    notes="Kaplan-Meier survival of user lifetime per variant, with "
    "edge-of-window censoring (last event within 3 days of corpus end "
    "= censored, not churned); life-table frame is bounded by the "
    "observation span so the variant-partitioned cumulations never see "
    "user-count rows; product via exp-sum-ln with a 1e-300 factor "
    "floor so terminal d==n underflows identically in both engines",
)(lambda spark: events_ops.kaplan_meier_survival(spark))


_register(
    "ev_diff_in_diff",
    """
WITH span AS (
  SELECT min(CAST(ts AS DATE)) AS min_day, max(CAST(ts AS DATE)) AS max_day
  FROM events
),
tagged AS (
  SELECT user_id,
         CASE WHEN datediff('day', min_day, CAST(ts AS DATE))
              >= floor(datediff('day', min_day, max_day) / 2)
              THEN 1 ELSE 0 END AS period,
         CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS pv_cents
  FROM events, span
),
sums AS (
  SELECT user_id, period, CAST(sum(pv_cents) AS BIGINT) AS y_cents
  FROM tagged GROUP BY 1, 2
),
frame AS (
  SELECT CAST(u.user_id % 2 AS INT) AS variant, p.period,
         coalesce(s.y_cents, 0) AS y_cents
  FROM (SELECT DISTINCT user_id FROM events) u
  CROSS JOIN (VALUES (0), (1)) p(period)
  LEFT JOIN sums s ON s.user_id = u.user_id AND s.period = p.period
),
moments AS (
  SELECT variant, period, CAST(count(*) AS BIGINT) AS n_users,
         sum(CAST(y_cents AS HUGEINT)) AS sum_y,
         sum(CAST(y_cents AS HUGEINT) * y_cents) AS sum_y2
  FROM frame GROUP BY 1, 2
),
cells AS (
  SELECT variant, period, n_users,
         CAST(sum_y AS DOUBLE) / CAST(n_users AS DOUBLE) / 100.0 AS mean_y,
         CASE WHEN n_users > 1 THEN
           CAST(sum_y2 * n_users - sum_y * sum_y AS DOUBLE)
           / (CAST(n_users AS DOUBLE) * (CAST(n_users AS DOUBLE) - 1.0))
           / 10000.0
         END AS var_y
  FROM moments
),
wide AS (
  SELECT
    (max(CASE WHEN variant = 1 AND period = 1 THEN mean_y END)
     - max(CASE WHEN variant = 1 AND period = 0 THEN mean_y END))
    - (max(CASE WHEN variant = 0 AND period = 1 THEN mean_y END)
     - max(CASE WHEN variant = 0 AND period = 0 THEN mean_y END)) AS did,
    sqrt(coalesce(max(CASE WHEN variant = 0 AND period = 0 THEN var_y / n_users END), 0.0)
       + coalesce(max(CASE WHEN variant = 0 AND period = 1 THEN var_y / n_users END), 0.0)
       + coalesce(max(CASE WHEN variant = 1 AND period = 0 THEN var_y / n_users END), 0.0)
       + coalesce(max(CASE WHEN variant = 1 AND period = 1 THEN var_y / n_users END), 0.0))
      AS se
  FROM cells
)
SELECT variant, period, n_users,
       round(mean_y * 1e6) / 1e6 AS mean_y,
       round(var_y * 1e6) / 1e6 AS var_y,
       round(did * 1e6) / 1e6 + 0.0 AS did_estimate,
       round(se * 1e6) / 1e6 AS did_se,
       round(did / nullif(se, 0.0) * 1e6) / 1e6 + 0.0 AS did_z
FROM cells, wide ORDER BY variant, period
""",
    notes="difference-in-differences on per-user purchase value (pre/"
    "post split at the corpus midpoint day, treated = user_id % 2 like "
    "the rest of the experiment kit): the quasi-experimental estimator "
    "netting out shared time trends; balanced user x period panel by "
    "construction (silent periods are y=0 rows), 4-cell table carries "
    "the broadcast scalar verdict on every row; zero windows. r12: "
    "means/variances derive from EXACT integer-cent moments (n, sum y, "
    "sum y^2) so summation order cannot flip a 6dp boundary — avg/"
    "var_samp over raw doubles flaked once in a 286-query sweep",
)(lambda spark: events_ops.diff_in_diff_readout(spark))


# shared gram CTE for the two n-gram-table oracles below: per-doc word
# n-grams with doc boundaries respected; DuckDB range(a, b) is [a, b)
# and empty when b <= a, so short docs emit nothing (the Spark side
# guards its sequence() for the same reason).
_GRAM_CTE = """
toks AS (
  SELECT doc_id, source,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, source, v.n,
         array_to_string(list_slice(t, CAST(i AS INT), CAST(i + v.n - 1 AS INT)), ' ') AS gram
  FROM toks
  CROSS JOIN (VALUES (1), (2), (3)) v(n)
  CROSS JOIN unnest(range(1, len(t) - v.n + 2)) AS r(i)
)
"""


_register(
    "text_distinct_ngrams",
    "WITH " + _GRAM_CTE + """
SELECT source, n,
       CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct,
       CAST(count(*) AS BIGINT) AS n_total,
       round(count(DISTINCT gram) / CAST(count(*) AS DOUBLE), 6)
         AS distinct_ratio
FROM grams GROUP BY source, n ORDER BY source, n
""",
    notes="distinct-n corpus diversity per source (n=1..3): distinct "
    "n-gram types / total n-grams, the generation-quality diversity "
    "ratio applied to curation (low distinct-2 = self-repeating "
    "source); map-only gram emission with doc boundaries respected, "
    "one gram-keyed exact distinct (approx_count_distinct is the "
    "100 TB swap)",
)(lambda spark: text.distinct_ngram_diversity(spark))


_register(
    "text_kneser_ney",
    "WITH " + _GRAM_CTE + """,
c12 AS (
  SELECT string_split(gram, ' ')[1] AS w1, string_split(gram, ' ')[2] AS w2,
         count(*) AS c12
  FROM grams WHERE n = 2 GROUP BY 1, 2
),
lft AS (SELECT w1, sum(c12) AS c1, count(*) AS n1p_fwd FROM c12 GROUP BY w1),
rgt AS (SELECT w2, count(*) AS n1p_bwd FROM c12 GROUP BY w2),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM c12)
SELECT c12.w1, c12.w2, CAST(c12.c12 AS BIGINT) AS c12,
       round(c12.c12 / CAST(lft.c1 AS DOUBLE), 6) AS p_mle,
       round(greatest(c12.c12 - 0.75, 0.0) / lft.c1
             + 0.75 * lft.n1p_fwd / lft.c1 * (rgt.n1p_bwd / tot.n_types), 6)
         AS p_kn,
       round(rgt.n1p_bwd / tot.n_types, 6) AS p_cont
FROM c12 JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN tot
ORDER BY c12.c12 DESC, c12.w1, c12.w2 LIMIT 50
""",
    notes="interpolated Kneser-Ney bigram LM (d=0.75) over doc-"
    "boundary-safe bigrams: absolute discounting plus continuation-"
    "probability backoff (distinct left-context counts, the KenLM "
    "smoothing), reported for the top-50 bigrams next to raw MLE; one "
    "bigram-count table re-aggregated by w1/w2 and joined back on its "
    "own keys, type total a broadcast scalar, TakeOrdered top-k",
)(lambda spark: text.kneser_ney_bigrams(spark))


_register(
    "emb_silhouette",
    """
WITH flat AS (
  SELECT vec_id, label, CAST(unnest(range(len(embedding))) AS INT) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS (SELECT label AS label_c, pos, avg(v) AS c
         FROM flat GROUP BY label, pos),
per_cand AS (
  SELECT f.vec_id, f.label, ct.label_c,
         sqrt(sum((f.v - ct.c) * (f.v - ct.c))) AS dist
  FROM flat f JOIN cent ct ON f.pos = ct.pos
  GROUP BY 1, 2, 3
),
per_vec AS (
  SELECT vec_id, label,
         min(CASE WHEN label_c = label THEN dist END) AS a,
         min(CASE WHEN label_c <> label THEN dist END) AS b
  FROM per_cand GROUP BY 1, 2
),
scored AS (
  SELECT label,
         coalesce((b - a) / nullif(greatest(a, b), 0.0), 0.0) AS s
  FROM per_vec
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(s), 6) AS avg_silhouette,
       round(min(s), 6) AS min_silhouette,
       round(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS frac_negative
FROM scored GROUP BY label ORDER BY label
""",
    notes="simplified (centroid-based) silhouette per label - the "
    "clustering-quality score Spark MLlib ships the same surrogate "
    "of; corpus touched once in the posexplode layout against a "
    "broadcast labels x dims centroid table, reduced per (vector, "
    "candidate label) then per vector - no pairwise distances; "
    "a==b==0 reads s=0 via the nullif guard like sklearn",
)(lambda spark: similarity.silhouette_by_label(spark))


_register(
    "rel_zone_map_pruning",
    """
WITH zones AS (
  SELECT year(CAST(l_shipdate AS DATE)) * 12
         + month(CAST(l_shipdate AS DATE)) - 1 AS zone_m,
         count(*) AS n_rows,
         max(l_quantity) AS max_q,
         min(l_discount) AS min_d, max(l_discount) AS max_d
  FROM lineitem GROUP BY 1
),
tagged AS (
  SELECT p.predicate, z.n_rows,
         CASE p.predicate
           WHEN 'shipdate_1998' THEN
             CASE WHEN z.zone_m < 1998 * 12 OR z.zone_m > 1998 * 12 + 11
                  THEN 1 ELSE 0 END
           WHEN 'quantity_gt45' THEN
             CASE WHEN z.max_q <= 45 THEN 1 ELSE 0 END
           ELSE CASE WHEN z.max_d < 0.05 OR z.min_d > 0.07
                     THEN 1 ELSE 0 END
         END AS pruned
  FROM zones z
  CROSS JOIN (VALUES ('shipdate_1998'), ('quantity_gt45'),
                     ('discount_05_07')) p(predicate)
)
SELECT predicate, CAST(count(*) AS BIGINT) AS n_zones,
       CAST(sum(pruned) AS BIGINT) AS n_pruned,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(pruned * n_rows) AS BIGINT) AS rows_skipped,
       round(sum(pruned) / CAST(count(*) AS DOUBLE), 6)
         AS zone_prune_ratio,
       round(sum(pruned * n_rows) / CAST(sum(n_rows) AS DOUBLE), 6)
         AS row_skip_ratio
FROM tagged GROUP BY predicate ORDER BY predicate
""",
    notes="zone-map / data-skipping audit: ship-month zones (the "
    "ingest-partitioned file proxy) with manifest-style min/max stats, "
    "three predicates evaluated against stats alone - the clustering-"
    "column predicate prunes ~85% of zones, the uniform-column ones "
    "prune zero (the sort/Z-order signal); one stats pass, then "
    "arithmetic over the ~80-row zone table",
)(lambda spark: relational.zone_map_pruning_audit(spark))


_register(
    "rel_zorder_layout",
    relational.zorder_oracle_sql(),
    notes="Z-order vs linear layout-quality audit (r11 — registers the "
    "storage.zorder_key/rewrite_zordered capability as a query): rows "
    "assigned to fixed z-range buckets by the Morton interleave of "
    "(l_partkey, l_suppkey) mod 1024 — pure bit arithmetic, fully "
    "oracled via a generated disjoint-powers sum — and per (layout, "
    "file) both columns' min/max spans quantify the zone-map "
    "selectivity OPTIMIZE ZORDER buys: z keeps both spans tight, "
    "linear sort leaves the second column at ~full range. No global "
    "sort window: bucket assignment is arithmetic, one groupBy shuffle",
)(lambda spark: relational.zorder_layout_audit(spark))


_register(
    "dedup_winnowing",
    """
WITH docs AS (
  SELECT doc_id, lower(text) AS t, length(lower(text)) AS n FROM documents
),
grams AS (
  SELECT doc_id, n, CAST(i AS INT) AS p,
         substring(md5(substring(t, CAST(i AS INT), 8)), 1, 12) AS h
  FROM docs, unnest(range(1, n - 8 + 2)) AS r(i)
),
wins AS (
  SELECT doc_id, p, n,
         min(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
  FROM grams
),
fp AS (
  SELECT DISTINCT doc_id, wmin AS fingerprint
  FROM wins WHERE p <= n - 8 + 1 - 3
),
cnt AS (SELECT fingerprint, count(*) AS n_docs FROM fp GROUP BY 1),
live AS (SELECT fp.doc_id, fp.fingerprint
         FROM fp JOIN cnt USING (fingerprint) WHERE cnt.n_docs <= 25),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
          FROM fp GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM live a JOIN live b
    ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT doc_a, doc_b, n_shared, sa.n_fp AS n_fp_a, sb.n_fp AS n_fp_b,
         round(n_shared / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE), 6)
           AS overlap
  FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT * FROM scored WHERE overlap >= 0.3 ORDER BY doc_a, doc_b
""",
    notes="winnowing (MOSS, SIGMOD'03) near-dup pairs: per-doc window "
    "minima over char-8-gram md5 hashes (w=4, density 2/(w+1), the "
    "guarantee that any shared substring >= k+w-1 chars yields a "
    "shared fingerprint), containment-style overlap vs the smaller "
    "fingerprint set; pair generation is fingerprint-keyed group-and-"
    "emit with a 25-doc stop-fingerprint guard (the LSH hot-bucket "
    "analogue) - never all-pairs; hashes compared lexicographically "
    "on hex so Spark and DuckDB agree byte-for-byte",
)(lambda spark: dedup.winnowing_near_duplicates(spark))


_register(
    "emb_random_projection",
    """
WITH flat AS (
  SELECT vec_id, CAST(unnest(range(len(embedding))) AS INT) AS j,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
proj AS (
  SELECT CAST(t1.j AS INT) AS j, CAST(t2.k AS INT) AS k,
         CASE WHEN ((t1.j * 2654435761 + t2.k * 40503) % 97) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS s
  FROM range(64) t1(j), range(16) t2(k)
),
y AS (
  SELECT vec_id, k, sum(v * s) / sqrt(16.0) AS yv
  FROM flat JOIN proj USING (j) GROUP BY 1, 2
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b
    ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 25
   AND floor(b.vec_id / 25) IN (floor(a.vec_id / 25),
                                floor(a.vec_id / 25) + 1)
),
d_orig AS (
  SELECT p.id_a, p.id_b, sqrt(sum((fa.v - fb.v) * (fa.v - fb.v))) AS d
  FROM pairs p
  JOIN flat fa ON fa.vec_id = p.id_a
  JOIN flat fb ON fb.vec_id = p.id_b AND fb.j = fa.j
  GROUP BY 1, 2
),
d_proj AS (
  SELECT p.id_a, p.id_b, sqrt(sum((ya.yv - yb.yv) * (ya.yv - yb.yv))) AS d
  FROM pairs p
  JOIN y ya ON ya.vec_id = p.id_a
  JOIN y yb ON yb.vec_id = p.id_b AND yb.k = ya.k
  GROUP BY 1, 2
),
dist AS (
  SELECT round(pj.d / o.d, 6) AS distortion
  FROM d_orig o JOIN d_proj pj ON o.id_a = pj.id_a AND o.id_b = pj.id_b
  WHERE o.d > 0
)
SELECT floor(distortion * 10) / 10.0 AS bin,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(distortion), 6) AS avg_distortion,
       round(min(distortion), 6) AS min_distortion,
       round(max(distortion), 6) AS max_distortion
FROM dist GROUP BY 1 ORDER BY 1
""",
    notes="Johnson-Lindenstrauss distortion audit: deterministic "
    "Achlioptas +-1/sqrt(m) sign projection 64d -> 16d (integer-"
    "arithmetic sign matrix, bit-identical across engines), pairwise "
    "distance ratio histogram over the id-block pair sample shared "
    "with emb_cosine_histogram; one broadcast 64 x m join + one "
    "map-side-combinable (vec, k) aggregate, pair count n x width "
    "never n^2; d_orig = 0 pairs excluded (undefined ratio)",
)(lambda spark: similarity.random_projection_distortion(spark))


_register(
    "text_burstiness",
    """
WITH words AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
  ) WHERE w <> ''
),
stats AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS cf,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM words GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
SELECT word, cf, df,
       round(n_docs * (1 - exp(-cf / n_docs)), 6) AS expected_df,
       round(df / (n_docs * (1 - exp(-cf / n_docs))), 6) AS burstiness
FROM stats, tot ORDER BY cf DESC, word LIMIT 50
""",
    notes="Church-Gale word burstiness: observed document frequency vs "
    "the Poisson expectation D(1-exp(-cf/D)) - content words bunch "
    "(ratio << 1), function words spread (~1); the topicality signal "
    "stopword pruning should respect; one token groupBy carrying cf "
    "and distinct-doc df on the same shuffle, doc total broadcast, "
    "TakeOrdered top-k",
)(lambda spark: text.word_burstiness(spark))


_register(
    "text_keyness",
    """
WITH words AS (
  SELECT source, w FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
  ) WHERE w <> ''
),
sw AS (SELECT source, w AS word, CAST(count(*) AS DOUBLE) AS a
       FROM words GROUP BY 1, 2),
wt AS (SELECT word, sum(a) AS ab FROM sw GROUP BY 1),
st AS (SELECT source, sum(a) AS c FROM sw GROUP BY 1),
g AS (SELECT sum(c) AS cd FROM st),
j AS (
  SELECT sw.source, sw.word, sw.a, wt.ab - sw.a AS b, st.c,
         g.cd - st.c AS d, wt.ab, g.cd
  FROM sw JOIN wt USING (word) JOIN st USING (source) CROSS JOIN g
),
scored AS (
  SELECT source, word, CAST(a AS BIGINT) AS count_in_source,
         CAST(b AS BIGINT) AS count_in_rest,
         round(2 * (CASE WHEN a > 0 THEN a * ln(a / (c * ab / cd))
                         ELSE 0 END
                  + CASE WHEN b > 0 THEN b * ln(b / (d * ab / cd))
                         ELSE 0 END), 6) AS g2
  FROM j WHERE a / c > ab / cd
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY g2 DESC, word) AS rank
  FROM scored
)
SELECT source, CAST(rank AS INT) AS rank, word, count_in_source,
       count_in_rest, g2
FROM ranked WHERE rank <= 10 ORDER BY source, rank
""",
    notes="Dunning log-likelihood keyness (G^2) per source: the "
    "corpus-linguistics over-representation test, robust at low "
    "counts where raw TF-IDF inflates; zero cells contribute 0 via "
    "the explicit x ln x -> 0 CASE both engines; enriched terms only; "
    "one (source, word) count, word rollup joined back on its key, "
    "source totals broadcast, source-partitioned row_number ranked "
    "on the 6dp-rounded G^2 so cross-engine ordering is stable",
)(lambda spark: text.source_keyness(spark))


_register(
    "rel_bloom_join_audit",
    """
WITH cust AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
build AS (
  SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) AS build_keys FROM cust
),
probe AS (
  SELECT CAST(count(*) AS BIGINT) AS probe_rows,
         CAST(sum(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS match_rows
  FROM orders o LEFT JOIN cust c ON o.o_custkey = c.c_custkey
),
bits AS (SELECT * FROM (VALUES (8), (12), (16)) t(bits_per_key))
SELECT CAST(bits_per_key AS INT) AS bits_per_key, build_keys, probe_rows,
       match_rows,
       round(pow(0.6185, bits_per_key), 6) AS fpr,
       round(match_rows + (probe_rows - match_rows)
             * pow(0.6185, bits_per_key), 2) AS est_probe_out_rows,
       round(1.0 - (match_rows + (probe_rows - match_rows)
                    * pow(0.6185, bits_per_key)) / probe_rows, 6)
         AS scan_reduction
FROM bits, build, probe ORDER BY bits_per_key
""",
    notes="runtime bloom-filter payoff audit for the Q3 semi-join "
    "shape: from build-side distinct keys and probe-side match rate, "
    "the closed-form fpr 0.6185^bits (optimal hash count) and scan "
    "reduction per bits-per-key - the explicit version of Spark's "
    "runtime.bloomFilter decision, sized before a 100 TB run; one "
    "distinct count + one probe rollup, probe scanned once",
)(lambda spark: relational.bloom_join_audit(spark))


_register(
    "emb_knn_label_agreement",
    """
WITH flat AS (
  SELECT vec_id, CAST(unnest(range(len(embedding))) AS INT) AS j,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
pr AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b
    ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 25
   AND floor(b.vec_id / 25) IN (floor(a.vec_id / 25),
                                floor(a.vec_id / 25) + 1)
),
d AS (
  SELECT p.id_a, p.id_b,
         round(sum((fa.v - fb.v) * (fa.v - fb.v)), 6) AS d2
  FROM pr p
  JOIN flat fa ON fa.vec_id = p.id_a
  JOIN flat fb ON fb.vec_id = p.id_b AND fb.j = fa.j
  GROUP BY 1, 2
),
lab AS (SELECT vec_id, label FROM embeddings),
directed AS (
  SELECT d.id_a AS vec_id, la.label AS label, d.id_b AS nbr_id,
         lb.label AS nbr_label, d.d2
  FROM d JOIN lab la ON la.vec_id = d.id_a
         JOIN lab lb ON lb.vec_id = d.id_b
  UNION ALL
  SELECT d.id_b, lb.label, d.id_a, la.label, d.d2
  FROM d JOIN lab la ON la.vec_id = d.id_a
         JOIN lab lb ON lb.vec_id = d.id_b
),
nearest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, nbr_id) AS rn
    FROM directed
  ) WHERE rn = 1
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN nbr_label = label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_agree,
       round(sum(CASE WHEN nbr_label = label THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS agreement
FROM nearest GROUP BY label ORDER BY label
""",
    notes="leave-one-out 1-NN label agreement over the shared id-block "
    "pair sample: local label consistency, the complement of the "
    "centroid-based label_noise screen (centroid-coherent labels can "
    "still be locally scrambled); pairs materialize once, both "
    "directions from the same rows, argmin via vec_id-partitioned "
    "row_number on (6dp-rounded d2, nbr_id) - deterministic across "
    "engines; ANN candidates replace the block sample at 100 TB",
)(lambda spark: similarity.knn_label_agreement(spark))


_register(
    "ev_cohort_ltv",
    """
WITH base AS (
  SELECT user_id,
         CAST(floor(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    / 7) AS BIGINT) AS m_idx,
         CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS pv
  FROM events
),
firsts AS (SELECT user_id, min(m_idx) AS cohort_m FROM base GROUP BY 1),
sizes AS (
  SELECT cohort_m, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM firsts GROUP BY 1
),
rev AS (
  SELECT f.cohort_m, b.m_idx - f.cohort_m AS age_m, sum(b.pv) AS period_value
  FROM base b JOIN firsts f USING (user_id)
  GROUP BY 1, 2
),
horizon AS (SELECT cohort_m, max(age_m) AS max_age FROM rev GROUP BY 1),
spine AS (
  SELECT cohort_m, CAST(a AS BIGINT) AS age_m
  FROM horizon, unnest(range(max_age + 1)) t(a)
),
filled AS (
  SELECT s.cohort_m, s.age_m, coalesce(r.period_value, 0.0) AS period_value
  FROM spine s LEFT JOIN rev r
    ON r.cohort_m = s.cohort_m AND r.age_m = s.age_m
),
cum AS (
  SELECT cohort_m, age_m, period_value,
         sum(period_value) OVER (PARTITION BY cohort_m ORDER BY age_m
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_value
  FROM filled
)
SELECT CAST(c.cohort_m AS INT) AS cohort_w, CAST(c.age_m AS INT) AS age_w,
       z.n_users,
       round(c.period_value, 2) AS period_value,
       round(c.cum_value / z.n_users, 6) AS cum_ltv_per_user
FROM cum c JOIN sizes z USING (cohort_m)
ORDER BY cohort_w, age_w
""",
    notes="cumulative LTV curve per signup cohort (first-event week, "
    "integer week index - monthly is degenerate on the ~30-day events "
    "span): cohort-age revenue "
    "on a gap-free sequence spine, cohort-partitioned running sum, "
    "per-member normalization - the payback readout next to the "
    "retention matrix; rows bounded by cohorts x months",
)(lambda spark: events_ops.cohort_ltv_curve(spark))


_register(
    "ev_wilson_ci",
    """
WITH users AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS variant,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= 14 THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
),
arms AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(converted) AS BIGINT) AS n_converted
  FROM users GROUP BY variant
)
SELECT variant, n_users, n_converted,
       round(n_converted / CAST(n_users AS DOUBLE), 6) AS conversion,
       round((n_converted / CAST(n_users AS DOUBLE)
              + 1.959964 * 1.959964 / (2 * n_users))
             / (1 + 1.959964 * 1.959964 / n_users)
             - 1.959964 / (1 + 1.959964 * 1.959964 / n_users)
               * sqrt(n_converted / CAST(n_users AS DOUBLE)
                      * (1 - n_converted / CAST(n_users AS DOUBLE)) / n_users
                      + 1.959964 * 1.959964 / (4.0 * n_users * n_users)), 6)
         AS wilson_lo,
       round((n_converted / CAST(n_users AS DOUBLE)
              + 1.959964 * 1.959964 / (2 * n_users))
             / (1 + 1.959964 * 1.959964 / n_users)
             + 1.959964 / (1 + 1.959964 * 1.959964 / n_users)
               * sqrt(n_converted / CAST(n_users AS DOUBLE)
                      * (1 - n_converted / CAST(n_users AS DOUBLE)) / n_users
                      + 1.959964 * 1.959964 / (4.0 * n_users * n_users)), 6)
         AS wilson_hi
FROM arms ORDER BY variant
""",
    notes="Wilson score 95% CI on per-variant conversion (same "
    "user_id % 2 assignment and >= 14-purchase rule as the experiment "
    "kit): stays in [0,1] and never zero-width at p in {0,1} where the "
    "Wald interval in ev_experiment_readout degrades; closed-form over "
    "the 2-row variant table",
)(lambda spark: events_ops.wilson_conversion_ci(spark))


_register(
    "text_distinct_ngrams_approx",
    "WITH " + _GRAM_CTE + """
SELECT source, n,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct_exact,
       TRUE AS within_bound
FROM grams GROUP BY source, n ORDER BY source, n
""",
    notes="the declared 100 TB swap for text_distinct_ngrams, made "
    "real and measured: HLL++ approx_count_distinct (2% rsd) replaces "
    "the exact gram-keyed distinct - the shuffle carries HLL registers "
    "per (source, n) instead of every gram. PROMOTED rows-only -> "
    "oracled (r12, sketch-contract pattern): audit mode computes the "
    "exact distinct in the same pass and the registered projection is "
    "(exact anchors, relative error <= 3x rsd boolean) — HLL register "
    "estimates themselves stay engine-side, also pinned in "
    "test_round7b_ops.py",
)(
    lambda spark: text.distinct_ngram_diversity_approx(spark, audit=True)
    .select("source", "n", "n_total", "n_distinct_exact", "within_bound")
)


_register(
    "ev_behavior_entropy",
    """
WITH counts AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
),
per_user AS (
  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_types,
         sum(c * ln(c)) AS sum_clnc
  FROM counts GROUP BY 1
)
SELECT user_id, n_events, n_types,
       round(ln(CAST(n_events AS DOUBLE))
             - sum_clnc / n_events, 6) AS entropy,
       round(CASE WHEN n_types = 1 THEN 0.0
                  ELSE (ln(CAST(n_events AS DOUBLE)) - sum_clnc / n_events)
                       / ln(CAST(n_types AS DOUBLE)) END, 6) AS entropy_norm,
       (CASE WHEN n_types = 1 THEN 0.0
             ELSE (ln(CAST(n_events AS DOUBLE)) - sum_clnc / n_events)
                  / ln(CAST(n_types AS DOUBLE)) END) < 0.5
         AS low_entropy_flag
FROM per_user WHERE n_events >= 20 ORDER BY user_id
""",
    notes="behavioral-entropy bot screen: normalized Shannon entropy "
    "of each user's event-type mix via the one-pass identity "
    "H = ln n - (sum c ln c)/n - the third behavioral screen next to "
    "timing (bot_regularity) and volume (rate_limit): interval-"
    "randomizing scrapers still do ONE thing; k=1 users read 0 by "
    "explicit convention; no per-user fan-back join",
)(lambda spark: events_ops.behavior_entropy_screen(spark))


_register(
    "text_js_divergence",
    """
WITH counts AS (
  SELECT source, w AS word, count(*) AS c FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY 1, 2
),
totals AS (SELECT source, sum(c) AS tot FROM counts GROUP BY 1),
probs AS (
  SELECT c.source, c.word, c.c / CAST(t.tot AS DOUBLE) AS p
  FROM counts c JOIN totals t USING (source)
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM totals a JOIN totals b ON a.source < b.source
),
keys AS (
  SELECT pr.source_a, pr.source_b, p.word
  FROM pairs pr JOIN probs p ON p.source IN (pr.source_a, pr.source_b)
  GROUP BY 1, 2, 3
),
merged AS (
  SELECT k.source_a, k.source_b, k.word,
         coalesce(pa.p, 0.0) AS p, coalesce(pb.p, 0.0) AS q
  FROM keys k
  LEFT JOIN probs pa ON pa.source = k.source_a AND pa.word = k.word
  LEFT JOIN probs pb ON pb.source = k.source_b AND pb.word = k.word
),
contrib AS (
  SELECT source_a, source_b, word, p, q,
         0.5 * (CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2))
                     ELSE 0 END)
       + 0.5 * (CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2))
                     ELSE 0 END) AS jc
  FROM merged
)
SELECT source_a, source_b,
       CAST(count(*) AS BIGINT) AS n_words_union,
       round(sum(jc), 6) AS jsd_nats,
       round(sqrt(sum(jc)), 6) AS jsd_distance
FROM contrib GROUP BY 1, 2 ORDER BY 1, 2
""",
    notes="pairwise Jensen-Shannon divergence between source unigram "
    "distributions (nats, <= ln 2 by construction): the distributional "
    "distance mixture-weight tuning wants, next to the chi2 test and "
    "vocab-overlap counts; zero cells via the x ln x -> 0 CASE; word "
    "rows scale with vocab x source-pairs, pair frame broadcast",
)(lambda spark: text.source_js_divergence(spark))


_register(
    "ev_funnel_windowed",
    """
WITH anchor AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id
),
fc AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN anchor a ON e.user_id = a.user_id
  WHERE e.event_type = 'click' AND e.ts >= a.t_view
    AND e.ts <= a.t_view + INTERVAL 24 HOURS
  GROUP BY e.user_id
),
fp AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e
  JOIN fc ON e.user_id = fc.user_id
  JOIN anchor a ON e.user_id = a.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= fc.t_click
    AND e.ts <= a.t_view + INTERVAL 24 HOURS
  GROUP BY e.user_id
)
SELECT 24 AS window_hours,
       CAST(count(*) AS BIGINT) AS n_viewed,
       CAST(sum(CASE WHEN fc.t_click IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clicked_in_window,
       CAST(sum(CASE WHEN fp.t_purchase IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchased_in_window,
       round(sum(CASE WHEN fc.t_click IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS view_to_click_rate,
       round(sum(CASE WHEN fp.t_purchase IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(greatest(sum(CASE WHEN fc.t_click IS NOT NULL
                                      THEN 1 ELSE 0 END), 1) AS DOUBLE), 6)
         AS click_to_purchase_rate,
       round(sum(CASE WHEN fp.t_purchase IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS full_funnel_rate
FROM anchor LEFT JOIN fc ON anchor.user_id = fc.user_id
            LEFT JOIN fp ON anchor.user_id = fp.user_id
WHERE anchor.t_view IS NOT NULL
""",
    notes="time-windowed ordered funnel (the windowFunnel primitive): "
    "click within 24h of the user's FIRST view, purchase after the "
    "click inside the same window - the attribution-window semantics "
    "ev_funnel_conversion lacks; same conditional-min chain, window "
    "bound pushed into each stage filter",
)(lambda spark: events_ops.funnel_windowed(spark))


_register(
    "ev_markov_absorption",
    f"""
WITH RECURSIVE seq AS (
  SELECT user_id, ts, event_id, event_type,
         coalesce(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS seen
  FROM events
),
kept AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM seq WHERE seen = 0
),
trans AS (
  SELECT event_type AS prev_state,
         CASE WHEN event_type = 'purchase' THEN NULL
              ELSE coalesce(next_type, '__drop__') END AS next_state
  FROM kept
),
counts AS MATERIALIZED (
  SELECT prev_state, next_state, CAST(count(*) AS BIGINT) AS n
  FROM trans WHERE next_state IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT prev_state, CAST(sum(n) AS BIGINT) AS tot FROM counts GROUP BY 1),
ts AS (SELECT DISTINCT prev_state AS state FROM counts WHERE prev_state <> 'purchase'),
-- transient->transient probabilities, snapped to the 1e-9 grid half-up;
-- zero self-loops pad every transient state into each round's join
qt AS MATERIALIZED (
  SELECT c.prev_state, c.next_state,
         floor(CAST(c.n AS DOUBLE) / t.tot * 1e9 + 0.5) / 1e9 AS p
  FROM counts c
  JOIN tot t USING (prev_state)
  JOIN ts s2 ON s2.state = c.next_state
  WHERE c.prev_state <> 'purchase'
  UNION ALL
  SELECT state, state, CAST(0.0 AS DOUBLE) FROM ts
),
r AS MATERIALIZED (
  SELECT s.state,
         coalesce(max(CASE WHEN c.next_state = 'purchase' THEN
           floor(CAST(c.n AS DOUBLE) / t.tot * 1e9 + 0.5) / 1e9 END), 0.0)
           AS r_pc,
         coalesce(max(CASE WHEN c.next_state = '__drop__' THEN
           floor(CAST(c.n AS DOUBLE) / t.tot * 1e9 + 0.5) / 1e9 END), 0.0)
           AS r_pd
  FROM ts s
  LEFT JOIN counts c ON c.prev_state = s.state
  LEFT JOIN tot t ON t.prev_state = s.state
  GROUP BY s.state
),
it AS (
  SELECT state, 0 AS rnd, CAST(0.0 AS DOUBLE) AS pc,
         CAST(0.0 AS DOUBLE) AS pd, CAST(0.0 AS DOUBLE) AS ns
  FROM ts
  UNION ALL
  SELECT q.prev_state, i.rnd + 1,
         floor((r.r_pc + sum(q.p * i.pc)) * 1e9 + 0.5) / 1e9,
         floor((r.r_pd + sum(q.p * i.pd)) * 1e9 + 0.5) / 1e9,
         floor((1.0 + sum(q.p * i.ns)) * 1e9 + 0.5) / 1e9
  FROM it i
  JOIN qt q ON q.next_state = i.state
  JOIN r ON r.state = q.prev_state
  WHERE i.rnd < {events_ops.ABSORPTION_ITERS}
  GROUP BY q.prev_state, i.rnd, r.r_pc, r.r_pd
)
SELECT state, pc AS p_conversion, pd AS p_drop, ns AS expected_steps
FROM it WHERE rnd = {events_ops.ABSORPTION_ITERS} ORDER BY state
""",
    notes="absorbing-chain conversion probabilities over the behavioral "
    "Markov model (sequences truncated at first purchase, else into an "
    "absorbing drop): b = (I-Q)^-1 R per transient event type - the "
    "removal-effect attribution core; distributed window pass emits the "
    "types^2 count table, driver iterates the (k+2)^2 system under the "
    "model-budget convention. PROMOTED rows-only -> fully oracled (r14, "
    "VERDICT r13 #4, the pagerank quantized-replay recipe): the LAPACK "
    "solve is replaced by the truncated Neumann series X <- snap9(rhs + "
    "Q X) for a fixed 150 rounds (measured rho~0.8 -> truncation error "
    "~1e-15), Q/R entries and every round snapped to the 1e-9 grid "
    "half-up on both engines, output IS the round-150 iterate (no "
    "second rounding) - the DuckDB recursive CTE above replays the "
    "whole trace bit-for-bit; planted-chain exactness + "
    "row-stochasticity pinned in test_round7b_ops.py",
)(lambda spark: events_ops.markov_absorption(spark))
