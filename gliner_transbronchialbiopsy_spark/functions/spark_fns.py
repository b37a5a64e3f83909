"""Spark column expressions + Arrow UDFs for the engine's scalar layer.

Two tiers, by design:
- JVM tier: everything expressible with pyspark.sql.functions stays
  JVM-side (whole-stage codegen, pushdown-friendly). The regex steps
  mirror the reference's chain (src/streamlit/app/utils/text_processor.py)
  one step each.
- Arrow tier: the multi-pattern sectionizer needs Python's re; it runs
  as a pandas UDF over Arrow batches (never a row-at-a-time Python UDF).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import textlib

# --------------------------------------------------------------------------
# JVM-tier regex steps (reference text_processor.py:109-132). The full
# clean chain, NFKC included, is textlib.clean_text.
# --------------------------------------------------------------------------


def collapse_whitespace(col: Column) -> Column:
    """F2: \\s+ -> single space (text_processor.py:114)."""
    return F.regexp_replace(col, r"\s+", " ")


def normalize_punct_spacing(col: Column) -> Column:
    """F4: '\\s*([.,;:!?])\\s*' -> '$1 ' (text_processor.py:124)."""
    return F.regexp_replace(col, r"\s*([.,;:!?])\s*", "$1 ")


def normalize_dashes(col: Column) -> Column:
    """F6: unicode dash variants -> '-' (text_processor.py:130)."""
    return F.regexp_replace(col, r"[-‐‑‒–—―]+", "-")


def format_grades_jvm(col: Column) -> Column:
    """F7: the four grade-notation rewrites (text_processor.py:229-234)
    as chained JVM regexp_replace (Java regex syntax: $1 refs)."""
    c = F.regexp_replace(col, r"A(\d|\+|x|X)B(\d|\+|x|X)", "A$1 B$2")
    c = F.regexp_replace(c, r"[Aa](\d|\+|x|X)[Bb](\d|\+|x|X)", "A$1 B$2")
    c = F.regexp_replace(c, r"grade\s+([AaBb])(\d|\+|x|X)", "Grade $1$2")
    c = F.regexp_replace(
        c, r"([AaBb])(\d|\+|x|X)\s*-\s*([AaBb])(\d|\+|x|X)", "$1$2 $3$4"
    )
    return c


def content_sha256(col: Column) -> Column:
    """S6: the per-row lineage invariant (file_handler.py:237-247)."""
    return F.sha2(col, 256)


def doc_id(repo: Column, path: Column, commit: Column) -> Column:
    """Canonical document identity: repo/path@commit."""
    return F.concat_ws("", repo, F.lit("/"), path, F.lit("@"), commit)


# --------------------------------------------------------------------------
# Arrow-tier UDFs
# --------------------------------------------------------------------------


@F.pandas_udf(T.StringType())
def extract_conclusion_udf(s: pd.Series) -> pd.Series:
    """F8+F9 sectionizer (text_processor.py:138-216); returns NULL when
    no conclusion/biopsy section is found."""
    return s.map(textlib.extract_conclusion)


def highlight_mentions(text_col: Column, surface_col: Column, label_col: Column) -> Column:
    """F14 entity-highlight rewrite (dashboard.py:154-173): wrap every
    occurrence of the mention surface in a labeled span. Regex-escapes
    the surface like the reference's re.escape — on BOTH sides: the
    pattern side escapes all regex metachars; the replacement side must
    separately escape '\\' and '$', which Java's regexp_replace treats
    as group references (an unescaped '$1' in a surface would corrupt
    the rewritten text or throw)."""
    escaped = F.regexp_replace(surface_col, r"([\\.\[\]{}()*+?^$|])", r"\\$1")

    def repl_safe(col: Column) -> Column:
        return F.regexp_replace(col, r"([\\$])", r"\\$1")

    # BOTH dynamic parts of the replacement need the $/\ escaping — a
    # model-supplied label like "PRICE_$1" is a group reference to Java
    # otherwise (labels are free-form once a pluggable detector is used)
    return F.regexp_replace(
        text_col,
        escaped,
        F.concat(
            F.lit('<span class="entity" data-label="'),
            repl_safe(label_col),
            F.lit('">'),
            repl_safe(surface_col),
            F.lit("</span>"),
        ),
    )
