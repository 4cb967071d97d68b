"""Form-data extraction as a Spark stage: transcripts → one
``MapType(string, string)`` column per turn (the reference's eval'd
form classes replaced by map columns; SURVEY.md M3)."""

from __future__ import annotations

import base64
import binascii
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pdftotext_spark.core.dispatch import B64_SENTINEL
from pdftotext_spark.core.forms import extract_form_data
from pdftotext_spark.sources.shipping import ship_package, trim_import_caches

FORM_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("form_fields", T.MapType(T.StringType(), T.StringType())),
        T.StructField("n_fields", T.IntegerType()),
    ]
)


def _payload_bytes(payload: str) -> bytes | None:
    if payload.startswith(B64_SENTINEL):
        try:
            return base64.b64decode(payload[len(B64_SENTINEL) :], validate=False)
        except (binascii.Error, ValueError):
            return None
    if "%PDF-" in payload[:1024]:
        return payload.encode("latin-1", errors="replace")
    return None


def make_form_batches(template_xml: str | None):
    def form_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_import_caches()
        for pdf in batches:
            rows: dict[str, list] = {
                "conv_id": [], "turn_idx": [], "form_fields": [], "n_fields": []
            }
            for conv_id, turn_idx, payload in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                buf = _payload_bytes(payload or "")
                fields: dict[str, str] = {}
                if buf is not None:
                    try:
                        fields = extract_form_data(buf, template_xml)
                    except Exception:
                        fields = {}
                rows["conv_id"].append(conv_id)
                rows["turn_idx"].append(int(turn_idx))
                rows["form_fields"].append(fields)
                rows["n_fields"].append(len(fields))
            yield pd.DataFrame(rows)

    return form_batches


def extract_forms(transcripts: DataFrame, template_xml: str | None = None) -> DataFrame:
    """Per-turn XFA form fields; turns without form data get an empty
    map (filter on ``n_fields > 0`` downstream)."""
    ship_package(transcripts.sparkSession)
    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        make_form_batches(template_xml), FORM_SCHEMA
    )
