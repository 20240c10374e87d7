"""Mapping stage: template rows × broadcast template_map -> candidate
(pred, raw value) rows.

Re-expresses the reference's per-param loop
(pywdcollections.py:332-393) as set operations:
 * template-redirect resolution = broadcast join (J5, :320-330);
 * named params: split-on-'=' exactly-2 rule (:359-361), key
   strip+lower / value strip (:362-363), len>2 filter (:364);
 * positional: first len>2 param (:386-393 — the break fires only
   after a successful save, so earlier short params are skipped);
 * split 625a/625b pairing into one P625 (:370-382);
 * named-625 normalization (:374-379);
 * positional-625 literal '%s|%s|0' defect (:390) mirrored.

Output: url, warc_ts, site, qid, template_idx, param_idx, prop_key,
pred, datatype, val — entity-datatype rows still carry the raw value
(linking happens next stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pywdcollections_spark.functions.native import (
    named_coordinate,
    positional_coordinate,
    python_trim,
)

_KEY_COLS = ["url", "warc_ts", "site", "qid", "template_idx"]
_OUT_COLS = _KEY_COLS + ["param_idx", "prop_key", "pred", "datatype", "val"]


def resolve_template_names(templates: DataFrame, template_redirects: DataFrame) -> DataFrame:
    """J5: canonicalize template names through the redirect dim."""
    dim = template_redirects.select("site", "alias_lc", "canonical_lc")
    # join + ONE select (not join/drop/withColumn/drop — every
    # DataFrame op re-analyzes the plan eagerly, r7)
    keep = [c for c in templates.columns if c != "tname"]
    return (templates
            .join(dim, (templates["site"] == dim["site"])
                  & (templates["tname"] == dim["alias_lc"]), "left")
            .select(*[templates[c] for c in keep],
                    F.coalesce("canonical_lc", "tname").alias("template_lc")))


def map_named_params(templates: DataFrame, template_map: DataFrame) -> DataFrame:
    """Named-parameter path. ``templates`` must carry template_lc."""
    named_map = template_map.filter(F.col("param_lc").isNotNull())
    params = (templates
              .select(*_KEY_COLS, "template_lc",
                      F.posexplode("params").alias("param_idx", "param"))
              .withColumn("kv", F.split("param", "="))
              .filter(F.size("kv") == 2)  # exactly-2 rule (:360)
              .withColumns({"pkey": F.lower(python_trim("kv[0]")),
                            "val": python_trim("kv[1]")})
              .filter(F.length("val") > 2))
    matched = params.join(
        named_map,
        (params["site"] == named_map["site"])
        & (params["template_lc"] == named_map["template_lc"])
        & (params["pkey"] == named_map["param_lc"]),
    ).drop(named_map["site"]).drop(named_map["template_lc"])

    plain = (matched
             .filter(~F.col("prop_key").isin("625", "625a", "625b"))
             .select(*_KEY_COLS, "param_idx", "prop_key", "pred", "datatype", "val"))

    named_625 = (matched
                 .filter(F.col("prop_key") == "625")
                 .withColumn("val", named_coordinate("val"))
                 .select(*_KEY_COLS, "param_idx", "prop_key", "pred", "datatype", "val"))

    # 625a/625b pair within one template instance; the save re-fires at
    # every 625a/625b param once both are set (:370-382), so under the
    # last-wins upsert the LAST occurrence of each half is what lands —
    # max-by-param_idx via struct max (nulls from the other half are
    # ignored by MAX), not string max
    pairs = (matched
             .filter(F.col("prop_key").isin("625a", "625b"))
             .groupBy(*_KEY_COLS)
             .agg(
                 F.max(F.when(F.col("prop_key") == "625a",
                              F.struct("param_idx", "val")))["val"].alias("lat"),
                 F.max(F.when(F.col("prop_key") == "625b",
                              F.struct("param_idx", "val")))["val"].alias("lon"),
                 F.max("param_idx").alias("param_idx"),
             )
             .filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
             .select(*_KEY_COLS, "param_idx",
                     F.lit("625").alias("prop_key"),
                     F.lit("P625").alias("pred"),
                     F.lit("coordinates").alias("datatype"),
                     F.concat_ws("|", "lat", "lon", F.lit("0")).alias("val")))

    return plain.unionByName(named_625).unionByName(pairs)


def map_positional_params(templates: DataFrame, template_map: DataFrame) -> DataFrame:
    """Positional path: the template maps straight to one property and
    only the first len>2 parameter is taken (W3)."""
    pos_map = template_map.filter(F.col("param_lc").isNull())
    matched = templates.join(
        pos_map,
        (templates["site"] == pos_map["site"])
        & (templates["template_lc"] == pos_map["template_lc"]),
    ).drop(pos_map["site"]).drop(pos_map["template_lc"])

    # first len>2 param (raw, unstripped, :386) in pure array expressions
    # — no explode/groupBy shuffle. array_position of the value equals
    # the first qualifying index (equal strings have equal lengths, so an
    # earlier occurrence of the same value also qualifies).
    qualifying = F.filter(F.col("params"), lambda p: F.length(p) > 2)
    return (matched
            .withColumn("param", F.try_element_at(qualifying, F.lit(1)))
            .filter(F.col("param").isNotNull())
            .select(*_KEY_COLS,
                    (F.array_position("params", F.col("param")) - 1)
                    .cast("int").alias("param_idx"),
                    "prop_key", "pred", "datatype",
                    F.when(F.col("pred") == "P625",
                            positional_coordinate("params"))
                     .otherwise(F.col("param")).alias("val")))


def map_parameters(templates: DataFrame, template_map: DataFrame,
                   template_redirects: DataFrame) -> DataFrame:
    """Full mapping stage: candidate saves in both param styles."""
    t = resolve_template_names(templates, template_redirects)
    return map_named_params(t, template_map).unionByName(
        map_positional_params(t, template_map))
