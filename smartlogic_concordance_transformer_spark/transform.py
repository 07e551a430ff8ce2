"""Validation + UUID derivation + concordance assembly (operators F1-F8,
V1-V2, U1-U3, D1-D2, A1-A2, E2 of SURVEY.md section 2).

The reference applies a sequential per-document fold
(``/root/reference/smartlogic/service.go:96-183``): validate the envelope,
then walk identifier lists in a fixed authority order (TME -> FACTSET ->
DBPedia -> Geonames -> Wikidata), deriving a UUID per id, erroring on the
first invalid/duplicate/self-concordant id (TME/FACTSET) or skipping
blanks/duplicates (locations).

Spark shape: that fold runs in ONE Arrow-batched pandas UDF
(``pyfold.convert_udf``) inside a single narrow projection — no shuffle,
no join. The UDF returns a slim payload (status code, error, concept
uuid, authority, concordances pre-serialized as JSON); this module
rebuilds everything user-facing natively: status/http from the code, the
concordance struct array with ``from_json``, and the byte-exact
``upp_json`` as a plain concat. The only shuffles in the job are whatever
the *sink* needs (partitioning) and the optional cross-document CC pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .pyfold import convert_udf

# Statuses (service.go:35-41); their HTTP codes (handlers.go:148-166)
# are mapped in _http_code.
SYNTACTICALLY_INCORRECT = "SyntacticallyIncorrect"
SEMANTICALLY_INCORRECT = "SemanticallyIncorrect"
VALID_CONCEPT = "ValidConcept"

_CONC_TYPE = "array<struct<authority:string,authorityValue:string,uuid:string>>"


def _http_code(status) -> Column:
    return (
        F.when(status == VALID_CONCEPT, F.lit(200))
        .when(status == SYNTACTICALLY_INCORRECT, F.lit(400))
        .when(status == SEMANTICALLY_INCORRECT, F.lit(422))
        .otherwise(F.lit(500))
    )


def transform_unified(
    source: DataFrame,
    content_col: str = "content",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Full pipeline as ONE op-typed frame — the shape to persist before a
    multi-sink fan-out (otherwise each sink re-runs the parse UDF over the
    full input; at 100 TB that is one extra scan + UDF pass per sink).

    Columns: doc_key, concept_uuid, authority, status, http_code, error,
    concordances, upp_json, op [+ carry]. Valid rows have status
    'ValidConcept' / http_code 200; quarantined rows carry the error and
    null concordances/upp_json/op. The frame is a single narrow projection
    (no union of filtered branches), so persisting it caches exactly one
    parse pass.

    The fold's slim payload (see pyfold.RESULT_SCHEMA) keeps the Arrow
    exchange to scalars: ``upp_json`` needs no JSON escaping because
    authority is an enum and concept_uuid is regex-validated hex.
    """
    df = source.withColumn(
        "doc_key",
        F.sha2(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit(""))
                    for c in ("repo", "path", "commit")
                    if c in source.columns
                ],
                F.col(content_col),
            ),
            256,
        ),
    ).withColumn("_r", convert_udf(F.col(content_col)))

    r = F.col("_r")
    valid = r["code"] == 0
    status = (
        F.when(valid, F.lit(VALID_CONCEPT))
        .when(r["code"] == 1, F.lit(SYNTACTICALLY_INCORRECT))
        .otherwise(F.lit(SEMANTICALLY_INCORRECT))
    )
    return df.select(
        "doc_key",
        r["concept_uuid"].alias("concept_uuid"),
        F.when(valid, r["authority"]).alias("authority"),
        status.alias("status"),
        _http_code(status).alias("http_code"),
        r["error"].alias("error"),
        F.when(valid, F.from_json(r["conc_json"], _CONC_TYPE)).alias("concordances"),
        # E1: byte-exact UPP JSON — key order = Go struct order
        # (model.go:50-60); an empty list stays [] (service.go:146)
        F.when(
            valid,
            F.concat(
                F.lit('{"authority":"'),
                r["authority"],
                F.lit('","uuid":"'),
                r["concept_uuid"],
                F.lit('","concordances":'),
                r["conc_json"],
                F.lit("}"),
            ),
        ).alias("upp_json"),
        F.when(
            valid,
            F.when(r["conc_json"] == "[]", F.lit("delete")).otherwise(F.lit("upsert")),
        ).alias("op"),
        *carry,
    )


def split_unified(
    unified: DataFrame, carry: tuple[str, ...] = ()
) -> tuple[DataFrame, DataFrame]:
    """Op-typed frame -> (concordances DF, quarantine DF); cheap filters,
    so a persisted ``unified`` serves both without recomputing the parse."""
    carry = tuple(carry)
    good = unified.filter(F.col("status") == VALID_CONCEPT).select(
        "doc_key", "concept_uuid", "authority", "concordances", *carry, "upp_json", "op"
    )
    quarantine = unified.filter(F.col("status") != VALID_CONCEPT).select(
        "doc_key", "concept_uuid", "status", "error", *carry, "http_code"
    )
    return good, quarantine


def transform(
    source: DataFrame,
    content_col: str = "content",
    carry: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Full pipeline: source table -> (concordances DF, quarantine DF).

    concordances: doc_key, concept_uuid, authority, concordances (array),
                  upp_json (byte-exact), op ('upsert'|'delete') [+ carry]
    quarantine:   doc_key, concept_uuid, status, error [+ carry], http_code

    ``carry`` columns from the source (e.g. the partition bucket, repo,
    path) ride through to both outputs.
    """
    carry = tuple(carry)
    return split_unified(transform_unified(source, content_col, carry), carry)
