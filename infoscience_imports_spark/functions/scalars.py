"""Scalar column helpers — reference-parity conveniences (SURVEY.md §2.8).

All pure Column expressions (whole-stage codegen; no UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def reconstruct_abstract(inv_index: Column) -> Column:
    """OpenAlex inverted-index -> abstract text (F17).

    Input is ``map<string, array<int>>`` ({word: [positions...]}); output is
    the position-ordered text (``clients/openalex_client.py:683-701``).
    Pure expressions: explode the map to (word, pos) structs, sort by pos,
    re-join — the reference's one true map-typed input, done without Python.
    """
    pairs = F.flatten(
        F.transform(
            F.map_entries(inv_index),
            lambda e: F.transform(
                e["value"], lambda p: F.struct(p.alias("pos"), e["key"].alias("word"))
            ),
        )
    )
    ordered = F.array_sort(pairs)
    return F.array_join(F.transform(ordered, lambda s: s["word"]), " ")


def safe_str(col: Column) -> Column:
    """NaN/None/'nan'/'None'/'' -> NULL (F23, ``pipeline_db.py:106-131``)."""
    s = F.trim(col.cast("string"))
    return F.when(F.lower(s).isin("", "nan", "none", "null"), F.lit(None)).otherwise(s)


def safe_int(col: Column) -> Column:
    """Loosely-typed year/int fields -> int (int(float(x)) coercion of
    ``dspace_client_wrapper.py:63-69``), NULL on garbage."""
    return safe_str(col).try_cast("double").try_cast("int")


def safe_bool(col: Column) -> Column:
    s = F.lower(F.trim(col.cast("string")))
    return (
        F.when(s.isin("true", "1", "yes", "t"), F.lit(True))
        .when(s.isin("false", "0", "no", "f"), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def normalize_doi(col: Column) -> Column:
    """Strip https://doi.org/ prefixes, lowercase, NULL-fold (F6)."""
    return safe_str(
        F.regexp_replace(F.lower(F.trim(col)), r"^https?://(dx\.)?doi\.org/", "")
    )


def normalize_issn(col: Column) -> Column:
    """F27: ISSN normalization (``crossref_client.py:891-937`` semantics):
    strip separators, uppercase the X check digit, re-hyphenate 4-4; NULL for
    anything that is not 8 [0-9X] characters."""
    s = F.upper(F.regexp_replace(F.trim(col.cast("string")), r"[\s-]", ""))
    ok = s.rlike(r"^[0-9]{7}[0-9X]$")
    return F.when(
        ok, F.concat(F.substring(s, 1, 4), F.lit("-"), F.substring(s, 5, 4))
    ).otherwise(F.lit(None).cast("string"))


def normalize_isbn(col: Column) -> Column:
    """F27: ISBN normalization (``wos_client_v2.py:889-949`` semantics):
    strip separators, uppercase X; keep only 10- or 13-digit forms."""
    s = F.upper(F.regexp_replace(F.trim(col.cast("string")), r"[\s-]", ""))
    ok = s.rlike(r"^([0-9]{9}[0-9X]|[0-9]{13})$")
    return F.when(ok, s).otherwise(F.lit(None).cast("string"))
