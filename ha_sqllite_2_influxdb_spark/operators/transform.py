"""The migration pipeline as declarative DataFrame transforms.

This is the Spark-first re-expression of the reference's entire per-row
transform (``batch_insert_to_influx``, sqllite2influxdb.py:100-144): joins
J1/J2, filters P1-P4/P7, scalar functions F1-F12 — all as JVM-side column
expressions (whole-stage-codegen'd; zero Python in the row path).

Scale design:
- ``states`` is the fact table (≈100 TB tier); ``states_meta`` (one row per
  entity) and ``state_attributes`` (deduped JSON blobs) are dimensions →
  explicit ``broadcast()`` so the big side never shuffles for the joins
  (SURVEY §2.3). If attributes outgrew broadcast size, dropping the hint
  lets AQE pick sort-merge — the code is unchanged.
- The dynamic attribute map is exploded to rows, never pivoted to columns
  (SURVEY §7.4#1): schema stays fixed regardless of attribute-key
  cardinality.
- Output keeps ``last_updated_ts`` as the epoch DOUBLE (``ts_epoch``); the
  sink renders timestamps (F6) at write time, so no timezone state leaks
  into the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.entity import entity_domain, entity_short
from ..functions.jsonmap import attr_get, attrs_variant_map
from ..functions.numeric import (
    NUMERIC_STR_REGEX, NUMERIC_STR_REGEX_SQL, is_numeric_str,
)

#: states the reference drops entirely (sqllite2influxdb.py:104-105)
SENTINEL_STATES = ("unknown", "unavailable", "None")

#: attribute keys never emitted as fields (:129-130)
DROPPED_KEYS = ("id", "id_str", "update_available")

#: keys force-coerced to float, failure skips the field (:132-133,138-139)
FORCE_FLOAT_KEYS = (
    "temperature", "humidity", "voc", "formaldehyd", "co2", "linkquality",
)


def joined_scan(ha_states: DataFrame, ha_states_meta: DataFrame,
                ha_state_attributes: DataFrame) -> DataFrame:
    """P1+J1+J2: the reference's source query (sqllite2influxdb.py:82-87).

    LEFT join to attributes (may be missing → NULL blob), INNER join to
    meta (resolves entity_id). Both dims broadcast — the fact side stays
    shuffle-free.
    """
    return (
        ha_states
        .join(F.broadcast(ha_state_attributes), "attributes_id", "left")
        .join(F.broadcast(ha_states_meta), "metadata_id", "inner")
        .select("state_id", "state", "entity_id", "last_updated_ts", "shared_attrs")
    )


def drop_sentinel_states(df: DataFrame) -> DataFrame:
    """P3 (sqllite2influxdb.py:104-105)."""
    return df.filter(~F.col("state").isin(*SENTINEL_STATES))


def _points_df(ha_states: DataFrame, ha_states_meta: DataFrame,
           ha_state_attributes: DataFrame,
           keep_state: bool = False) -> DataFrame:
    """Flagship transform: scan → filter → type/tag (F1-F9) → point rows.

    One row per surviving state: measurement + tags + the type-routed state
    field (``value`` float XOR ``state_str``), ready for the sink.
    ``keep_state=True`` additionally carries the raw state TEXT as
    ``state_raw`` so the sink can render numeric fields byte-identically
    to the source (no float formatting).
    """
    # JSON extraction is a pure function of the DEDUPED attr blob: parse
    # on the dimension (one row per distinct blob — HA dedups them), not
    # on the fact side post-join. At 100 TB this turns per-state-row
    # get_json_object calls into per-distinct-blob ones riding the
    # broadcast.
    attrs_dim = ha_state_attributes.select(
        "attributes_id",
        attr_get(F.col("shared_attrs"), "friendly_name").alias("_fname"),
        attr_get(F.col("shared_attrs"), "unit_of_measurement").alias("_unit"),
    )
    df = drop_sentinel_states(
        ha_states
        .join(F.broadcast(attrs_dim), "attributes_id", "left")
        .join(F.broadcast(ha_states_meta), "metadata_id", "inner")
    )
    short = entity_short(F.col("entity_id"))
    unit = F.coalesce(F.col("_unit"), F.lit("default_measurement"))
    is_num = is_numeric_str(F.col("state"))
    return df.select(
        F.col("state_id"),
        # F4+F5: unit default then ''→'count' (:110-113)
        F.when(unit == "", "count").otherwise(unit).alias("measurement"),
        F.lit("HA").alias("source"),                      # F11 (:118)
        entity_domain(F.col("entity_id")).alias("domain"),  # F1 (:106)
        short.alias("entity_id"),
        # F3: friendly_name defaulting to the short id (:109)
        F.coalesce(F.col("_fname"), short).alias("friendly_name"),
        F.col("last_updated_ts").alias("ts_epoch"),       # F6 stays epoch
        # F8+F9: numeric-string test routes to float XOR string (:122-125)
        F.when(is_num, F.col("state").cast("double")).alias("value"),
        F.when(~is_num, F.col("state")).alias("state_str"),
        *([F.col("state").alias("state_raw")] if keep_state else []),
    )


def scan_health(ha_states: DataFrame, ha_states_meta: DataFrame,
                ha_state_attributes: DataFrame) -> dict:
    """P7/§2.9 drop accounting: what the reference emits as per-row
    warnings (sqllite2influxdb.py:97,139,144 and the :104-105 skips),
    as ONE observed pass over the scan — `df.observe` metrics ride the
    normal action, costing zero extra scans when attached to a sink
    write (see sinks.backfill.backfill_once for that pattern; here the
    action is a count so the function is self-contained).
    """
    from pyspark.sql import Observation

    df = joined_scan(ha_states, ha_states_meta, ha_state_attributes)
    parsed = F.try_parse_json(F.col("shared_attrs"))
    obs = Observation("scan_health")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_scanned"),
        F.count_if(F.col("state").isin(*SENTINEL_STATES)).alias("n_sentinel"),
        F.count_if(F.col("shared_attrs").isNotNull() & parsed.isNull())
         .alias("n_malformed_attrs"),
        F.count_if(F.col("shared_attrs").isNull()).alias("n_missing_attrs"),
    )
    observed.count()
    return obs.get


def _attr_fields_df(ha_states: DataFrame, ha_states_meta: DataFrame,
                ha_state_attributes: DataFrame) -> DataFrame:
    """F10+F12: explode the dynamic JSON map into typed field rows.

    VARIANT preserves each JSON value's original type, which the routing
    needs (sqllite2influxdb.py:128-139):

    - dropped keys skipped (:129-130);
    - force-float keys: ``float(value)`` — accepts numbers / numeric-ish
      strings incl. ``"1e3"`` / booleans (``float(True)``→1.0); failure
      (e.g. ``"high"``, JSON null) skips the field (:138-139);
    - otherwise: JSON numbers AND booleans are ``isinstance (int, float)``
      → float; JSON strings take the one-dot digit test (F8) → float else
      string; JSON null → ``str(None)`` = ``'None'`` (:134-137).

    Output: (state_id, field_key, field_type, value_num, value_str).

    The entire parse/route computation is a pure function of the DEDUPED
    attr blob, so it runs on the dimension (one row per distinct blob)
    and fans out to states through the broadcast join — per-state-row
    cost is the join probe alone. This is the scale win of HA's
    attribute dedup carried through the plan.
    """
    exploded = (
        ha_state_attributes.select(
            "attributes_id",
            F.explode(attrs_variant_map(F.col("shared_attrs"))).alias("field_key", "v"),
        )
        .filter(~F.col("field_key").isin(*DROPPED_KEYS))
        .select(
            "attributes_id", "field_key",
            F.expr("schema_of_variant(v)").alias("t"),
            F.expr("cast(v as string)").alias("sv"),
        )
    )
    force = F.col("field_key").isin(*FORCE_FLOAT_KEYS)
    is_str_num = F.col("sv").rlike(NUMERIC_STR_REGEX)
    value_num = (
        F.when(F.col("t") == "BOOLEAN", F.when(F.col("sv") == "true", 1.0).otherwise(0.0))
        .when(F.col("t") == "VOID", F.lit(None).cast("double"))
        .when(
            F.col("t") == "STRING",
            F.when(force, F.expr("try_cast(sv as double)"))
             .when(is_str_num, F.col("sv").cast("double")),
        )
        .otherwise(F.expr("try_cast(sv as double)"))  # JSON numbers
    )
    value_str = (
        F.when(force, F.lit(None).cast("string"))
        .when(F.col("t") == "VOID", F.lit("None"))
        .when((F.col("t") == "STRING") & ~is_str_num, F.col("sv"))
    )
    fields_dim = (
        exploded
        .withColumn("value_num", value_num)
        .withColumn("value_str", value_str)
        .filter(F.col("value_num").isNotNull() | F.col("value_str").isNotNull())
        .select(
            "attributes_id", "field_key",
            F.when(F.col("value_num").isNotNull(), "float").otherwise("string")
             .alias("field_type"),
            "value_num", "value_str",
        )
    )
    # inner join ≡ the original post-join explode: NULL attributes_id,
    # malformed blobs (NULL map) and blobs with no surviving fields all
    # emit zero rows
    base = drop_sentinel_states(
        ha_states.join(F.broadcast(ha_states_meta), "metadata_id", "inner")
    )
    return (
        base.select("state_id", "attributes_id")
        .join(F.broadcast(fields_dim), "attributes_id")
        .select("state_id", "field_key", "field_type", "value_num", "value_str")
    )


# ---------------------------------------------------------------------------
# One-parse SQL texts of the two transforms above (r14, guide §1.1/§7.3).
# Every chained DataFrame call is eagerly analyzed (~8-10 ms fixed per call
# — OPTIMIZATION_r14.md §8), so the ~10-call builds cost 0.10-0.15 s of
# pure driver-side analysis per invocation. One parse+analysis of these
# texts builds the IDENTICAL plans — optimizer-level sameResult, equal
# Exchange counts and identical values pinned by
# tests/test_plans.py::test_points_and_attr_fields_sql_text_plan_equality;
# _points_df/_attr_fields_df above remain the readable references the pins
# compare against (the simhash/neardup/hourly SQL-text precedent). Snippets
# mirror functions/{entity,jsonmap,numeric}.py token for token; the
# sentinel/dropped/force-float tuples are rendered from the SAME constants
# the DataFrame builds use, so the two formulations cannot drift.

def _sql_in(values) -> str:
    return "(" + ", ".join("'" + v + "'" for v in values) + ")"


_SHORT_SQL = ("CASE WHEN instr(entity_id, '.') = 0 THEN '' "
              "ELSE substring(entity_id, instr(entity_id, '.') + 1, "
              "length(entity_id)) END")
_UNIT_SQL = "coalesce(_unit, 'default_measurement')"
# Spark SQL single-quoted literals process backslash escapes, so the
# regex needs its backslashes doubled IN THE TEXT to survive parsing
# with the same pattern the Column build uses (pinned by sameResult).
_RX_SQL = NUMERIC_STR_REGEX_SQL.replace("\\", "\\\\")
_ISNUM_SQL = f"state RLIKE '{_RX_SQL}'"


def _points_sql(keep_state: bool) -> str:
    state_raw = ",\n       state AS state_raw" if keep_state else ""
    return f"""
SELECT state_id,
       CASE WHEN {_UNIT_SQL} = '' THEN 'count' ELSE {_UNIT_SQL} END
         AS measurement,
       'HA' AS source,
       substring_index(entity_id, '.', 1) AS domain,
       {_SHORT_SQL} AS entity_id,
       coalesce(_fname, {_SHORT_SQL}) AS friendly_name,
       last_updated_ts AS ts_epoch,
       CASE WHEN {_ISNUM_SQL} THEN CAST(state AS DOUBLE) END AS value,
       CASE WHEN NOT ({_ISNUM_SQL}) THEN state END AS state_str{state_raw}
FROM (
  SELECT /*+ BROADCAST(ad), BROADCAST(m) */ *
  FROM {{states}} s
  LEFT JOIN (
    SELECT attributes_id,
           get_json_object(shared_attrs, '$.friendly_name') AS _fname,
           get_json_object(shared_attrs, '$.unit_of_measurement') AS _unit
    FROM {{attrs}}
  ) ad USING (attributes_id)
  JOIN {{meta}} m USING (metadata_id)
  WHERE NOT (state IN {_sql_in(SENTINEL_STATES)})
)
"""


def points(ha_states: DataFrame, ha_states_meta: DataFrame,
           ha_state_attributes: DataFrame,
           keep_state: bool = False) -> DataFrame:
    """Flagship transform as ONE SQL parse — plan-identical to
    `_points_df` (sameResult-pinned); see the SQL-text note above."""
    from ..functions.sqlsplice import sql_with_plans

    return sql_with_plans(
        ha_states.sparkSession, _points_sql(keep_state), states=ha_states,
        meta=ha_states_meta, attrs=ha_state_attributes)


_VNUM_SQL = f"""CASE
  WHEN t = 'BOOLEAN' THEN CASE WHEN sv = 'true' THEN 1.0D ELSE 0.0D END
  WHEN t = 'VOID' THEN CAST(NULL AS DOUBLE)
  WHEN t = 'STRING' THEN
    CASE WHEN field_key IN {_sql_in(FORCE_FLOAT_KEYS)}
           THEN try_cast(sv AS DOUBLE)
         WHEN sv RLIKE '{_RX_SQL}' THEN CAST(sv AS DOUBLE)
    END
  ELSE try_cast(sv AS DOUBLE)
END"""

_VSTR_SQL = f"""CASE
  WHEN field_key IN {_sql_in(FORCE_FLOAT_KEYS)} THEN CAST(NULL AS STRING)
  WHEN t = 'VOID' THEN 'None'
  WHEN t = 'STRING' AND NOT (sv RLIKE '{_RX_SQL}') THEN sv
END"""

_ATTR_FIELDS_SQL = f"""
SELECT /*+ BROADCAST(fd) */ state_id, field_key, field_type, value_num,
       value_str
FROM (
  SELECT /*+ BROADCAST(m) */ state_id, attributes_id
  FROM {{states}} s
  JOIN {{meta}} m USING (metadata_id)
  WHERE NOT (state IN {_sql_in(SENTINEL_STATES)})
) b
JOIN (
  SELECT attributes_id, field_key,
         CASE WHEN value_num IS NOT NULL THEN 'float' ELSE 'string' END
           AS field_type,
         value_num, value_str
  FROM (
    SELECT attributes_id, field_key,
           {_VNUM_SQL} AS value_num,
           {_VSTR_SQL} AS value_str
    FROM (
      SELECT attributes_id, field_key,
             schema_of_variant(v) AS t,
             cast(v as string) AS sv
      FROM (
        SELECT attributes_id,
               explode(try_cast(try_parse_json(shared_attrs)
                                AS MAP<STRING, VARIANT>))
                 AS (field_key, v)
        FROM {{attrs}}
      ) WHERE NOT (field_key IN {_sql_in(DROPPED_KEYS)})
    )
  ) WHERE value_num IS NOT NULL OR value_str IS NOT NULL
) fd USING (attributes_id)
"""


def attr_fields(ha_states: DataFrame, ha_states_meta: DataFrame,
                ha_state_attributes: DataFrame) -> DataFrame:
    """F10+F12 as ONE SQL parse — plan-identical to `_attr_fields_df`
    (sameResult-pinned); see the SQL-text note above."""
    from ..functions.sqlsplice import sql_with_plans

    return sql_with_plans(
        ha_states.sparkSession, _ATTR_FIELDS_SQL, states=ha_states,
        meta=ha_states_meta, attrs=ha_state_attributes)
