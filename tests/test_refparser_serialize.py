"""Oracle markdown serializer tests (SURVEY.md §2.9 F10-F15)."""

import pytest

from document_parser_spark.config import (
    CELL_SEP,
    IMAGE_MODE_REFERENCED,
    IMAGE_PLACEHOLDER,
    PAGE_BREAK_PLACEHOLDER,
    ROW_SEP,
)
from document_parser_spark.refparser.serialize import (
    serialize_markdown,
    serialize_table,
)


class TestBlocks:
    def test_heading_levels(self):
        assert serialize_markdown([("heading", "T", "h1")]) == "# T"
        assert serialize_markdown([("heading", "T", "h3")]) == "### T"

    def test_text_join_blank_line(self):
        md = serialize_markdown([("text", "a", ""), ("text", "b", "")])
        assert md == "a\n\nb"

    def test_list_items_adjacent_lines(self):
        md = serialize_markdown([
            ("list_item", "a", "li:u:0"),
            ("list_item", "b", "li:u:0"),
            ("list_item", "c", "li:u:1"),
        ])
        assert md == "- a\n- b\n  - c"

    def test_ordered_list_marker(self):
        assert serialize_markdown([("list_item", "x", "li:o:0")]) == "1. x"

    def test_list_then_text_blank_line(self):
        md = serialize_markdown([("list_item", "a", "li:u:0"), ("text", "t", "")])
        assert md == "- a\n\nt"

    def test_table(self):
        payload = f"h1{CELL_SEP}h2{ROW_SEP}a{CELL_SEP}b"
        assert serialize_table(payload) == \
            "| h1 | h2 |\n|---|---|\n| a | b |"

    def test_table_ragged_rows_padded(self):
        payload = f"h1{CELL_SEP}h2{ROW_SEP}only"
        assert serialize_table(payload) == \
            "| h1 | h2 |\n|---|---|\n| only |  |"

    def test_code_fence(self):
        assert serialize_markdown([("code", "x = 1", "")]) == "```\nx = 1\n```"

    def test_image_placeholder_mode(self):
        assert serialize_markdown([("image", "", "img://1")]) == IMAGE_PLACEHOLDER

    def test_image_referenced_mode(self):
        md = serialize_markdown([("image", "", "img://1")],
                                image_mode=IMAGE_MODE_REFERENCED)
        assert md == "![](img://1)"

    def test_page_break_placeholder_exact(self):
        md = serialize_markdown([("text", "p1", ""), ("page_break", "", ""),
                                 ("text", "p2", "")])
        assert md == "p1" + PAGE_BREAK_PLACEHOLDER + "p2"

    def test_empty(self):
        assert serialize_markdown([]) == ""


class TestArmsParity:
    """The serializer UDF's batch wrapper (``serialize_batch``) vs the
    oracle on hostile media_ref grammars, empty chunks and NULL fields:
    it must hand each Arrow row's span dicts to ``serialize_markdown``
    unchanged, NULLs included (review-caught when the wrapper was a
    pandas twin: 'h7', 'li:o', 'li:o:1:x', float depths, dropped empty
    text chunks)."""

    CASES = [
        [("heading", "T", "h7")], [("heading", "T", "h12")],
        [("heading", "T", "h0")], [("heading", "T", "h+3")],
        [("heading", "T", "hx")], [("heading", "T", "h1_0")],
        [("heading", "T", "h 3")],
        [("list_item", "i", "li:o")],
        [("list_item", "i", "li:o:1:x")],
        [("list_item", "i", "li:u:2.5")],
        [("list_item", "i", "li:u:-3")],
        [("list_item", "i", "li:u:999999999")],  # depth DoS clamp
        [("list_item", "i", "::0")],
        [("list_item", "i", "li:o:x")],
        [("text", "A", ""), ("text", "", ""), ("text", "B", "")],
        [("list_item", "a", "li:u:0"), ("text", "", ""),
         ("list_item", "b", "li:u:0")],
        [("table", "", ""), ("text", "x", "")],
        [("code", "", "")], [("weird", "", "")],
        # NULL fields (review-caught: the oracle raised TypeError on a
        # NULL media_ref/text where the vectorized arm rendered its
        # fillna('') fallback; both sides now agree None == "")
        [("heading", "h", None)], [("list_item", "x", None)],
        [("heading", None, "h2")], [("list_item", None, "li:o:1")],
        [("text", None, None), ("text", "x", "")],
        [("code", None, None)], [("table", None, None)],
        [("image", None, None)],
        [("page_break", None, None), ("text", None, None)],
    ]

    @pytest.mark.parametrize("idx", range(28))
    def test_hostile_refs_match(self, idx):
        import pandas as pd

        from document_parser_spark.operators.serialize import serialize_batch

        spans = self.CASES[idx]
        got = serialize_batch(pd.Series(
            [[{"kind": k, "text": t, "media_ref": m}
              for k, t, m in spans]]), "placeholder")[0]
        assert got == serialize_markdown(spans), spans

    def test_null_ref_image_referenced_mode(self):
        import pandas as pd

        from document_parser_spark.operators.serialize import serialize_batch

        spans = [("image", None, None)]
        got = serialize_batch(pd.Series(
            [[{"kind": k, "text": t, "media_ref": m}
              for k, t, m in spans]]), "referenced")[0]
        assert got == serialize_markdown(spans, "referenced") == "![]()"

    def test_depth_clamp_bounds_allocation(self):
        # strict grammar + clamp: a hostile depth cannot allocate a
        # gigabyte indent on either side
        md = serialize_markdown([("list_item", "i", "li:u:999999999")])
        assert len(md) < 1000
