"""Unit tests for the oracle scalar kernel (SURVEY.md §2.8 F2,F4-F6).

Adversarial strings per SURVEY §5.2: every invisible codepoint from the
reference table (abc/abc.py:80-104), /uniXXXX escapes (abc/abc.py:73-79),
U+FFFD (abc/abc.py:106), mojibake pairs (abc/abc.py:59-61 subset).
"""

import unicodedata

from hypothesis import given
from hypothesis import strategies as st

from document_parser_spark.config import INVISIBLE_CODEPOINTS
from document_parser_spark.refparser.textkernel import (
    clean_and_fix,
    clean_text,
    fix_text,
    normalize_nfc,
    unescape_uni,
)


class TestUnescapeUni:
    def test_basic(self):
        assert unescape_uni("/uni0041") == "A"
        assert unescape_uni("x/uni0416y") == "xЖy"

    def test_case_insensitive_hex(self):
        assert unescape_uni("/uni00e9") == "é"
        assert unescape_uni("/uni00E9") == "é"

    def test_invalid_left_as_is(self):
        assert unescape_uni("/uniZZZZ") == "/uniZZZZ"
        assert unescape_uni("/uni12") == "/uni12"
        assert unescape_uni("/un i0041") == "/un i0041"

    def test_adjacent(self):
        assert unescape_uni("/uni0041/uni0042") == "AB"

    def test_five_hex_digits_consumes_four(self):
        # exactly 4 hex digits per the reference regex; 5th char remains
        assert unescape_uni("/uni00411") == "A1"


class TestCleanText:
    def test_every_invisible_maps_to_one_space(self):
        for ch in INVISIBLE_CODEPOINTS:
            assert clean_text(f"a{ch}b") == "a b", hex(ord(ch))

    def test_replacement_char_to_dot(self):
        assert clean_text("a�b") == "a.b"

    def test_order_uni_first(self):
        # /uni00A0 produces NBSP which must then be mapped to space
        assert clean_text("a/uni00A0b") == "a b"
        # /uniFFFD produces the replacement char -> '.'
        assert clean_text("a/uniFFFDb") == "a.b"

    def test_newline_preserved(self):
        assert clean_text("a\nb") == "a\nb"

    def test_regular_text_untouched(self):
        s = "Hello, Wörld! 你好 — em-dash stays."
        assert clean_text(s) == s


class TestFixText:
    def test_double_encoded_utf8_cp1252(self):
        assert fix_text("Ã©") == "é"
        assert fix_text("Ð¿Ñ€Ð¸Ð²ÐµÑ‚") == "привет"

    def test_clean_ascii_passthrough(self):
        assert fix_text("plain ascii text") == "plain ascii text"

    def test_legit_accents_untouched(self):
        # é alone: 0xE9 is not a valid UTF-8 sequence start -> no repair
        assert fix_text("café") == "café"

    def test_two_rounds(self):
        once = "é".encode("utf-8").decode("cp1252")       # 'Ã©'
        twice = once.encode("utf-8").decode("cp1252")     # 'ÃƒÂ©'
        assert fix_text(twice) == "é"

    def test_latin1_fallback(self):
        # a char valid in latin-1 region but absent from cp1252 mapping:
        # 0x81 is undefined in cp1252 -> encode falls back to latin-1
        broken = bytes([0xC2, 0x81]).decode("latin-1")  # 'Â\x81'
        assert fix_text(broken) == "\x81"

    @given(st.text(alphabet=st.characters(min_codepoint=0x400, max_codepoint=0x4FF),
                   min_size=1, max_size=40))
    def test_roundtrip_repairs_cyrillic(self, s):
        broken = s.encode("utf-8").decode("latin-1")
        assert fix_text(broken) == s

    @given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz ,.!?", max_size=80))
    def test_ascii_identity(self, s):
        assert fix_text(s) == s


class TestNfc:
    def test_compose(self):
        decomposed = unicodedata.normalize("NFD", "é")
        assert normalize_nfc(decomposed) == "é"


class TestCleanAndFix:
    def test_call_site_order(self):
        # clean_text precedes to_utf8 (pdf_parser.py:56-57)
        s = "/uni0041 Ã© �"
        assert clean_and_fix(s) == "A é ."

    @given(st.text(max_size=200))
    def test_idempotent_on_clean_output_for_plain(self, s):
        out = clean_and_fix(s)
        assert isinstance(out, str)


class TestDocxAsymmetry:
    """The DocParser path quirks (docx_parser.py:43-49): NFC only on
    docx text items; table cells clean_text ONLY (no to_utf8) on the
    docx path but clean_text + to_utf8 on every other parser path."""

    def test_docx_text_nfc_then_clean_then_fix(self):
        from document_parser_spark.refparser.textkernel import (
            docx_clean_and_fix,
        )
        # decomposed e+combining acute composes; /uni and FFFD cleaned
        assert docx_clean_and_fix("Café /uni0041 �") == \
            "Café A ."

    def test_non_docx_text_does_not_nfc(self):
        # the pdf/html kernel must leave decomposed sequences alone
        assert clean_and_fix("Café") == "Café"

    def test_docx_table_cells_skip_to_utf8(self):
        from document_parser_spark.refparser.textkernel import (
            clean_table_payload,
        )
        payload = "aÃ©\x1fb�\x1ec/uni0041\x1fd"
        out = clean_table_payload(payload, fix_cells=False)
        # mojibake survives; clean_text still ran (FFFD -> '.', /uni)
        assert out == "aÃ©\x1fb.\x1ecA\x1fd"

    def test_generic_table_cells_get_to_utf8(self):
        from document_parser_spark.refparser.textkernel import (
            clean_table_payload,
        )
        payload = "aÃ©\x1fb�\x1ec/uni0041\x1fd"
        out = clean_table_payload(payload, fix_cells=True)
        assert out == "aé\x1fb.\x1ecA\x1fd"

    def test_docx_table_does_not_nfc_cells(self):
        from document_parser_spark.refparser.textkernel import (
            clean_table_payload,
        )
        assert clean_table_payload("céll", fix_cells=False) == \
            "céll"


class TestVectorizedKernelParity:
    """The table-clean pandas UDF maps the oracle kernel over its
    Series; NULL payloads stay NULL."""

    def test_table_clean_series_nan_safe(self, spark):
        from document_parser_spark.functions.cleaning import (
            make_table_clean_udf,
        )
        df = spark.createDataFrame([(0, None), (1, "a\x1fÃ©")],
                                   "id int, t string")
        out = {r.id: r.c for r in df.select(
            "id", make_table_clean_udf(True)("t").alias("c")).collect()}
        assert out == {0: None, 1: "a\x1fé"}


class TestNeedsPythonColumn:
    def test_flags_only_rows_needing_the_udf(self, spark):
        from document_parser_spark.functions.cleaning import (
            clean_text_column,
            needs_python_column,
        )
        import pyspark.sql.functions as F

        rows = [(1, "plain text with nbsp and tab\t"),
                (2, "has /uni0041 escape"),
                (3, "mojibake Ã© text"),
                (4, "all clean ascii")]
        df = spark.createDataFrame(rows, "id long, t string")
        flagged = {r.id for r in
                   df.filter(needs_python_column(F.col("t"))).collect()}
        assert flagged == {2, 3}
        # the codegen chain fully cleans the un-flagged rows
        from document_parser_spark.refparser.textkernel import clean_text
        got = {r.id: r.c for r in
               df.filter(~needs_python_column(F.col("t")))
               .select("id", clean_text_column(F.col("t")).alias("c"))
               .collect()}
        assert got[1] == clean_text(rows[0][1])
        assert got[4] == rows[3][1]
