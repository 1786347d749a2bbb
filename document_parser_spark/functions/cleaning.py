"""Text cleaning for Spark (SURVEY.md §2.8 F2,F4-F6).

Two arms:
  - the Python arm: ``refparser.textkernel``'s kernels (``clean_and_fix``,
    ``docx_clean_and_fix``, ``clean_table_payload``) mapped over a pandas
    Series inside an Arrow-batched stage (the pipeline's Python parse arm,
    the html stage, the pandas UDFs below).
  - the JVM arm: ``clean_text_column``, a built-in chain (two
    ``F.translate`` calls) covering F5+F6 exactly, which stays inside
    whole-stage codegen; ``needs_python_column`` flags the rows it cannot
    clean (a ``/uni`` escape or a mojibake lead byte), which take the
    Python arm instead.
"""

from __future__ import annotations

from functools import partial

import pandas as pd

from document_parser_spark.config import (
    INVISIBLE_CODEPOINTS,
    INVISIBLE_REPLACEMENT,
    MOJIBAKE_LEAD_HI,
    MOJIBAKE_LEAD_LO,
    REPLACEMENT_CHAR,
    REPLACEMENT_FIX,
)
from document_parser_spark.refparser.textkernel import (
    clean_and_fix,
    clean_table_payload,
    docx_clean_and_fix,
)

_UNI_LIT = "/uni"
_MOJIBAKE_PAT = f"[{MOJIBAKE_LEAD_LO}-{MOJIBAKE_LEAD_HI}]"


def clean_and_fix_series(s: pd.Series) -> pd.Series:
    """``clean_and_fix`` (clean_text then to_utf8, pdf_parser.py:56-57)
    over a string Series; NULLs stay NULL."""
    return s.map(clean_and_fix, na_action="ignore")


_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def ascii_lower_column(col):
    """Deterministic ASCII case fold (A-Z -> a-z only). Full-Unicode
    lower() is engine-tailored — Java applies the final-sigma rule and
    decomposes Turkish İ, utf8proc (DuckDB) does neither — so any
    oracle-verified KEY must use this fold instead (caught by the
    adversarial-corpus oracle tests). Non-ASCII letters pass through
    unchanged on both engines."""
    from pyspark.sql import functions as F

    return F.translate(col, _ASCII_UPPER, _ASCII_LOWER)


def norm_ws_lower_column(col):
    """Whitespace-normalized case-folded text — the exact-dedup /
    fingerprint key. Python-strip whitespace semantics via the shared
    PY_WHITESPACE set: every whitespace char becomes a space, runs
    collapse, ends trim, then the ASCII fold — all codegen, and every
    step has a literal DuckDB mirror (engine-native trim()/lower()
    disagree on unicode: DuckDB trim strips U+2007 where Spark's does
    not; see ascii_lower_column for the case-fold story)."""
    from pyspark.sql import functions as F

    from document_parser_spark.config import PY_WHITESPACE

    spaced = F.translate(col, PY_WHITESPACE, " " * len(PY_WHITESPACE))
    return ascii_lower_column(F.trim(F.regexp_replace(spaced, " +", " ")))


def clean_text_column(col):
    """JVM-only F5+F6: stays inside whole-stage codegen. Does NOT cover
    /uniXXXX or mojibake — pair with `needs_python_column` when unsure."""
    from pyspark.sql import functions as F

    return F.translate(
        F.translate(col, REPLACEMENT_CHAR, REPLACEMENT_FIX),
        INVISIBLE_CODEPOINTS,
        INVISIBLE_REPLACEMENT,
    )


def needs_python_column(col):
    """JVM predicate: True for rows the codegen-only chain cannot fully
    clean (a ``/uni`` escape or a mojibake lead byte present). Lets a
    pipeline split its input — the overwhelming clean majority stays
    entirely inside whole-stage codegen via ``clean_text_column`` and
    only the flagged sliver crosses into the pandas kernel."""
    from pyspark.sql import functions as F

    return col.contains(_UNI_LIT) | col.rlike(_MOJIBAKE_PAT)


def make_docx_clean_udf():
    """Scalar pandas UDF for the DocParser text kernel (NFC -> clean
    -> fix)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def docx_clean_udf(s: pd.Series) -> pd.Series:
        return s.map(docx_clean_and_fix, na_action="ignore")

    return docx_clean_udf


def make_table_clean_udf(fix_cells: bool):
    """Scalar pandas UDF cleaning table payloads per cell."""
    from pyspark.sql.functions import pandas_udf

    kernel = partial(clean_table_payload, fix_cells=fix_cells)

    @pandas_udf("string")
    def table_clean_udf(s: pd.Series) -> pd.Series:
        return s.map(kernel, na_action="ignore")

    return table_clean_udf
