"""Pure-Python oracle for the reference's scalar text kernel.

Single-string and readable: this module DEFINES the correctness contract,
and the Spark pipeline's Python arms call these functions directly (the JVM
arm's translate chain covers the rows that need no /uni or mojibake step;
golden tests assert exact equality).

Reference parity (file:line into /root/reference):
  - clean_text pipeline & ordering: app/modules/parser/abc/abc.py:71-109
      order of operations: /uniXXXX unescape (:73-79) -> U+FFFD -> '.' (:106)
      -> 23 invisible codepoints -> one space each (:80-104)
  - to_utf8 str branch (ftfy.fix_text): abc/abc.py:59-61 — we pin a
    deterministic subset (utf-8 bytes mis-decoded as cp1252/latin-1, up to two
    rounds), which is the spec for both pipeline and golden (SURVEY §7.3.2).
  - NFC normalization: abc/abc.py:66-69 — called only on the DocParser path
    (docx_parser.py:43); exposed here for completeness and tests.
  - call-site ordering: clean_text precedes to_utf8 at every call site
    (e.g. pdf_parser.py:56-57, html_parser.py:42-43).
"""

from __future__ import annotations

import re
import unicodedata

from document_parser_spark.config import (
    CELL_SEP,
    INVISIBLE_CODEPOINTS,
    MOJIBAKE_LEAD_HI,
    MOJIBAKE_LEAD_LO,
    REPLACEMENT_CHAR,
    REPLACEMENT_FIX,
    ROW_SEP,
    UNI_ESCAPE_PATTERN,
)

_UNI_RE = re.compile(UNI_ESCAPE_PATTERN)
_INVISIBLE_TABLE = {ord(c): " " for c in INVISIBLE_CODEPOINTS}
_MOJIBAKE_RE = re.compile(f"[{MOJIBAKE_LEAD_LO}-{MOJIBAKE_LEAD_HI}]")


def unescape_uni(text: str) -> str:
    """``/uni0041`` -> ``A``; invalid hex sequences left untouched."""
    return _UNI_RE.sub(lambda m: chr(int(m.group(1), 16)), text)


def clean_text(text: str) -> str:
    """The reference's clean_text: /uni unescape, then replacement-char fix,
    then invisible-space mapping. Order matters (SURVEY §2.8 F6 note)."""
    text = unescape_uni(text)
    text = text.replace(REPLACEMENT_CHAR, REPLACEMENT_FIX)
    return text.translate(_INVISIBLE_TABLE)


def _try_repair_mojibake(text: str) -> str | None:
    """One round of mojibake repair: re-encode with cp1252 (latin-1 fallback)
    and strictly re-decode as UTF-8. Returns None when not applicable."""
    if not _MOJIBAKE_RE.search(text):
        return None
    try:
        raw = text.encode("cp1252")
    except UnicodeEncodeError:
        try:
            raw = text.encode("latin-1")
        except UnicodeEncodeError:
            return None
    try:
        repaired = raw.decode("utf-8")
    except UnicodeDecodeError:
        return None
    if repaired == text:
        return None
    return repaired


def fix_text(text: str) -> str:
    """Deterministic ftfy.fix_text subset: repair up to two rounds of UTF-8
    bytes mis-decoded as cp1252/latin-1 (e.g. ``Ã©`` -> ``é``,
    ``Ð¿Ñ€Ð¸Ð²ÐµÑ‚`` -> ``привет``). Strings without the mojibake signature
    pass through verbatim."""
    for _ in range(2):
        repaired = _try_repair_mojibake(text)
        if repaired is None:
            return text
        text = repaired
    return text


# Unicode BOMs, longest first (the utf-16-le BOM is a PREFIX of the
# utf-32-le one). None of these survive a strict utf-8 decode, so the
# check belongs in the detector, after the utf-8 attempt — which also
# preserves the reference's behavior for utf-8-BOM text (decoded WITH
# the U+FEFF, which clean_text's invisible map then spaces out).
# The mapped codec is the BOM-CONSUMING one ("utf-16"/"utf-32" pick
# endianness from the BOM and strip it) — chardet reports the same
# family name and decode() behaves identically.
_BOMS = (
    (b"\x00\x00\xfe\xff", "utf-32"),
    (b"\xff\xfe\x00\x00", "utf-32"),
    (b"\xfe\xff", "utf-16"),
    (b"\xff\xfe", "utf-16"),
)


# East-Asian multi-byte families (abc/abc.py:51 — chardet's
# SJIS / EUC-JP / GB / Big5 / EUC-KR probers). Deterministic stand-in
# in the same fixed-rule style as the Cyrillic split below: the
# codec's own STRICT decoder is the structural validator (lead/trail
# grammar, run parity — Cyrillic prose fails it because any odd-length
# high-byte word leaves a lead paired with the following ASCII byte),
# and the SCRIPT of the decoded text is the frequency-free
# discriminator — kana exists only in the Japanese encodings, hangul
# only in the Korean one, so one fixed threshold per script replaces
# chardet's per-language frequency tables. Documented limits of the
# subset: kana-free (all-kanji) Japanese routes to the han branch,
# and ISO-2022 escape-sequence codecs are out of scope.
_KANA = ((0x3040, 0x30FF), (0x31F0, 0x31FF))
_HANGUL = ((0xAC00, 0xD7A3), (0x1100, 0x11FF), (0x3130, 0x318F))
_HAN = ((0x4E00, 0x9FFF), (0x3400, 0x4DBF), (0xF900, 0xFAFF))


def _script_hits(text: str, ranges: tuple) -> tuple[float, int]:
    """(ratio over non-ASCII chars, absolute hit count)."""
    non_ascii = [o for o in map(ord, text) if o > 0x7F]
    if not non_ascii:
        return 0.0, 0
    hits = sum(1 for o in non_ascii
               if any(lo <= o <= hi for lo, hi in ranges))
    return hits / len(non_ascii), hits


def _strict(raw: bytes, enc: str, tail_slack: int = 0) -> str | None:
    """Strict decode; ``tail_slack`` > 0 tolerates ONE error within
    that many bytes of the end (a detection WINDOW sliced out of a
    longer document can cut a multi-byte sequence at its edge — the
    truncation must not fail an otherwise-valid grammar)."""
    try:
        return raw.decode(enc)
    except UnicodeDecodeError as e:
        if tail_slack and e.start >= len(raw) - tail_slack:
            try:
                return raw[:e.start].decode(enc)
            except UnicodeDecodeError:
                return None
        return None


def _ascii_trail_share(raw: bytes) -> float:
    """Among 2-byte high-lead sequences (lead >= 0x81), the share of
    trail bytes in 0x40-0x7E — Big5 text routinely pairs a high lead
    with an ASCII-range trail, GB-2312-range text never does."""
    n = trails = i = 0
    while i < len(raw):
        if raw[i] >= 0x81 and i + 1 < len(raw):
            n += 1
            if 0x40 <= raw[i + 1] <= 0x7E:
                trails += 1
            i += 2
        else:
            i += 1
    return trails / n if n else 0.0


def _high_lead_over_c8_share(raw: bytes) -> float:
    """Among EUC-structural byte pairs (lead and trail both >= 0xA1),
    the share of leads >= 0xC9. The EUC-KR common-hangul rows stop at
    0xC8, while GB hanzi rows run to 0xF7 — so Korean prose reads ~0
    here and Chinese prose 0.3-0.5. This is the deterministic stand-in
    for the frequency tables chardet uses to split the two codecs,
    whose byte GRAMMARS are identical."""
    n = over = i = 0
    while i < len(raw):
        if raw[i] >= 0xA1 and i + 1 < len(raw) and raw[i + 1] >= 0xA1:
            n += 1
            if raw[i] >= 0xC9:
                over += 1
            i += 2
        else:
            i += 1
    return over / n if n else 0.0


# Second line of defense for the EUC-KR-vs-GB split: the row-range
# share (above) reads 0 whenever the hanzi sit ENTIRELY in GB rows
# B0-C8 (pinyin initials a-r) — and every such pair strict-decodes
# into hangul, so grammar + script + row-range all agree on the wrong
# answer (e.g. 大家好, leads B4/BC/BA, decodes to hangul mojibake).
# Genuine Korean prose is dominated by a small closed set of
# particle / copula / ending syllables, while GB-as-hangul mojibake
# scatters ~uniformly over the 2,350-syllable KS X 1001 block
# (expected frequent-share ~ |set|/2350 ~= 4%; measured: Korean prose
# 0.57-0.83, mojibake 0.0-0.33). Same stopword-style fixed rule as
# the lang-id kernel — deterministic, no frequency tables at runtime.
_FREQ_HANGUL = frozenset(
    "이다의에는을하고를은가지서기아어사대나도로시인한보주일있그니수"
    "전자스만게해제요무라와부정국상들년것등우리여동중면내성학소장세"
    "과되않없말안며음터습까네좋날씨계데든번때왜누구집생각"
)
_FREQ_HANGUL_MIN_CHARS = 8
_FREQ_HANGUL_SHARE = 0.4


def _korean_confirms(text: str, strict: bool = False) -> bool:
    """Frequent-syllable confirmation; vacuously true below the
    minimum sample size (no statistic separates the codecs on a few
    syllables — the row-range gate is the best available evidence
    there, preserving the pre-round-5 behavior). ``strict=True``
    (the pure-upper-range window path) flips the vacuous default to
    False: there the euc_kr reading competes with an equally-
    grammatical Cyrillic one, and a sample too small to measure must
    not win the tie."""
    syl = [c for c in text if 0xAC00 <= ord(c) <= 0xD7A3]
    if len(syl) < _FREQ_HANGUL_MIN_CHARS:
        return not strict
    freq = sum(1 for c in syl if c in _FREQ_HANGUL)
    return freq / len(syl) >= _FREQ_HANGUL_SHARE


# Tie-break for the pure-upper-range window (every high byte >= 0xC0,
# the exact cp1251/koi8 letter band): such bytes can ALSO be a
# grammatical GB/Big5 pair stream, so grammar + script ratio cannot
# decide. Same stopword-style rule as _FREQ_HANGUL: genuine Chinese
# prose is dominated by a few hundred high-frequency hanzi (top ~200
# cover half of running text), while Cyrillic-as-GB mojibake decodes
# ~uniformly over the thousands of codepoints reachable from
# (C0-FF, C0-FE) byte pairs — expected frequent-share a few percent.
# Simplified + frequent traditional forms, deduped by frozenset.
_FREQ_HANZI = frozenset(
    "的一是不了人我在有他这为之大来以个中上们到说国和地也子时道出而"
    "要于就下得可你年生自会那后能对着事其里所去行过家十用发天如然作"
    "方成者多日都三小军二无同么经法当起与好看学进种将还分此心前面又"
    "定见只主没公从已它两使式新文明很把开实际理想情况问题全力重东变"
    "条平意口头话等合远常提队第间什样单色光门听风水好月白四五几外但"
    "這為來個們說國時於後會對裡過發經當與學進種還見沒從麼無長書點現"
    "動員體讓麗業間題戰號區決傳錢"
)
_FREQ_HANZI_MIN_CHARS = 8
_FREQ_HANZI_SHARE = 0.25


def _chinese_confirms(text: str) -> bool:
    """Frequent-hanzi confirmation for the pure-upper-range tie-break.
    Below the minimum sample the answer is False — with both readings
    grammatical and no measurable statistic, the single-byte Cyrillic
    interpretation (whose letter band the window sits in exactly) is
    the safer default."""
    han = [c for c in text if 0x4E00 <= ord(c) <= 0x9FFF]
    if len(han) < _FREQ_HANZI_MIN_CHARS:
        return False
    freq = sum(1 for c in han if c in _FREQ_HANZI)
    return freq / len(han) >= _FREQ_HANZI_SHARE


def _adjacent_high_share(raw: bytes) -> float:
    """Among high bytes (>= 0x80), the share with at least one high
    NEIGHBOR. Genuine multi-byte East-Asian prose is built from
    high-lead sequences whose trails are mostly high too (GB2312/EUC
    always, Big5/Shift-JIS ~2/3), so contiguous CJK text reads
    0.55-1.0 here; Western single-byte prose (cp1252 umlauts/accents
    embedded in ASCII words) reads near 0 — its high bytes are
    isolated. This is the structural gate that stops an accented
    Western page from strict-decoding into wall-to-wall hanzi (each
    accent byte + following ASCII letter is a valid GBK/Big5 pair, so
    the decoded-script ratio alone cannot tell them apart)."""
    if not raw:
        return 0.0
    n = hits = 0
    for i, b in enumerate(raw):
        if b >= 0x80:
            n += 1
            if ((i > 0 and raw[i - 1] >= 0x80)
                    or (i + 1 < len(raw) and raw[i + 1] >= 0x80)):
                hits += 1
    return hits / n if n else 0.0


# detection runs on a bounded window, never the whole payload: every
# helper below is an interpreted per-byte scan, and _detect_east_asian
# adds up to five strict decodes — O(doc) work per doc on the ingest
# hot path for a statistic that converges within a few KB (chardet
# samples a bounded prefix for the same reason). 64 KiB keeps the
# worst-case per-doc detection cost fixed at ~ms regardless of
# payload size, and the rules stay deterministic (pure function of
# the window bytes).
DETECT_WINDOW_BYTES = 65536
_FIRST_HIGH_RE = re.compile(rb"[\x80-\xff]")


def _detect_window(raw: bytes) -> tuple[bytes, bool]:
    """-> (window, truncated). The window starts at the doc start or
    >= 16 ASCII bytes before the FIRST high byte (C-speed regex scan),
    so its left edge can never split a multi-byte sequence; the right
    edge may, which is why truncated windows get decode tail-slack."""
    if len(raw) <= DETECT_WINDOW_BYTES:
        return raw, False
    m = _FIRST_HIGH_RE.search(raw)
    start = max(0, (m.start() if m else 0) - 16)
    # truncated only when the right edge actually CUT the payload: a
    # window that reaches the true document end must not be granted
    # decode tail-slack, else a genuinely corrupt final sequence is
    # forgiven in a >64KiB doc but rejected in a small one and the
    # verdict flips on total length instead of content
    return (raw[start:start + DETECT_WINDOW_BYTES],
            start + DETECT_WINDOW_BYTES < len(raw))


def _detect_east_asian(raw: bytes, truncated: bool = False,
                       upper_range: bool = False) -> str | None:
    """Fixed-rule East-Asian detection; None when no rule fires.

    Entry gate: the adjacent-high-byte share must look multi-byte
    (see ``_adjacent_high_share``) — otherwise Western accented
    single-byte text shadows into the near-total GB18030/Big5
    grammars.

    Order: Japanese (full-width kana signature — an EUC stream read as
    shift-jis yields only HALF-width kana and vice-versa fails the
    strict grammar, so the two cannot shadow each other), then Korean
    (hangul), then Chinese with Big5-before-GB18030 when ASCII-range
    trails appear (GB18030 is near-total over byte pairs, so it must
    come last and behind absolute-count guards).

    ``upper_range``: the window's every high byte is >= 0xC0 — the
    exact cp1251/koi8 letter band, where a Cyrillic reading is always
    grammatical too. The Korean and Chinese branches then demand
    frequent-character confirmation (``_korean_confirms(strict=True)``,
    ``_chinese_confirms``) before winning the tie; the kana branch
    needs none (full-width kana leads sit below 0xC0 in both Japanese
    codecs, so it cannot fire on such a window)."""
    slack = 4 if truncated else 0
    if _adjacent_high_share(raw) < 0.35:
        return None
    for enc in ("shift_jis", "euc_jp"):
        t = _strict(raw, enc, slack)
        if t is not None:
            ratio, hits = _script_hits(t, _KANA)
            if ratio > 0.2 and hits >= 4:
                return enc
    # Korean only when the lead-byte rows say hangul, not hanzi: GB
    # pairs with leads <= 0xC8 strictly decode under euc_kr INTO
    # hangul, so the grammar+script test alone cannot separate the
    # two — the row-range share can (see _high_lead_over_c8_share).
    if _high_lead_over_c8_share(raw) <= 0.1:
        t = _strict(raw, "euc_kr", slack)
        if t is not None:
            ratio, hits = _script_hits(t, _HANGUL)
            # _korean_confirms: rows-B0-C8-only hanzi decode into
            # hangul too, so the script test alone misroutes e.g.
            # 大家好 — see _FREQ_HANGUL notes
            if (ratio > 0.5 and hits >= 4
                    and _korean_confirms(t, strict=upper_range)):
                return "euc_kr"
    order = (("big5", "gb18030") if _ascii_trail_share(raw) > 0.05
             else ("gb18030", "big5"))
    for enc in order:
        t = _strict(raw, enc, slack)
        if t is not None:
            ratio, hits = _script_hits(t, _HAN)
            if (ratio > 0.7 and hits >= 8
                    and (not upper_range or _chinese_confirms(t))):
                return enc
    return None


def detect_encoding(raw: bytes) -> str | None:
    """Deterministic chardet stand-in for the F1 bytes branch. Called
    only after strict utf-8 failed. Detection order mirrors chardet's
    structure (BOM -> multi-byte pattern -> single-byte statistics),
    each step a fixed rule so two runs can never disagree:

    1. Unicode BOMs: utf-32/utf-16, both endiannesses.
    2. BOM-less utf-16: mostly-ASCII text in utf-16 has a NUL in every
       other byte — an asymmetric NUL stripe picks the endianness.
    2b. East-Asian multi-byte families (shift-jis / euc-jp / gb18030 /
       big5 / euc-kr): strict-decode grammar + decoded-script
       thresholds, see ``_detect_east_asian``.
    Steps 2b-3 read a bounded DETECT_WINDOW_BYTES window anchored just
    before the first high byte (``_detect_window``), never the whole
    payload — detection stays O(1) per doc however large the text.
    3. Single-byte codecs by high-byte statistics. The discriminator
       is high-byte DENSITY, not range (Cyrillic and Western accented
       letters share 0xC0-0xFF): Cyrillic prose is almost entirely
       high bytes (every letter >= 0xC0), Western prose has sparse
       accents in ASCII text. Dense pages split by WHERE the mass
       sits: 0x80-0xBF -> cp866 (DOS Cyrillic); 0xC0-0xDF-heavy ->
       koi8_r (lowercase lives there); else cp1251 (lowercase at
       0xE0-0xFF). Sparse -> cp1252 (the Western-European superset of
       latin-1). Returns None for pure-ASCII input (utf-8 could not
       have failed then; the guard keeps it total)."""
    for bom, enc in _BOMS:
        if raw.startswith(bom):
            return enc
    if len(raw) >= 8:
        # BOM-less utf-16: the NUL stripe sits on one byte parity only
        # (ASCII chars put 0x00 in the high byte; non-Latin pages
        # dilute it, so the trigger is ASYMMETRY — some NULs on one
        # side, none on the other — not a high absolute fraction).
        # Single-byte text codecs contain no NULs at all, so they can
        # never trip this.
        even = raw[0::2]
        odd = raw[1::2]
        even_nul = even.count(0) / max(len(even), 1)
        odd_nul = odd.count(0) / max(len(odd), 1)
        if odd_nul > 0.25 and even_nul < 0.05:
            return "utf-16-le"
        if even_nul > 0.25 and odd_nul < 0.05:
            return "utf-16-be"
    win, truncated = _detect_window(raw)
    letters = [b for b in win if b not in b" \t\r\n.,;:!?0123456789"]
    high = [b for b in win if b >= 0x80]
    if not high:
        return None
    # Pure-upper-range tie-break: a window whose EVERY high byte is
    # >= 0xC0 sits exactly in the cp1251/koi8 letter band, where a
    # Cyrillic reading is ALWAYS grammatical — and when the high-byte
    # runs are all even-length, no dangling lead breaks the EUC/GB
    # run-parity defense and the same bytes strict-decode into
    # plausible hanzi too (measured ~2% of uniform-random cp1251/koi8
    # strings in a 9,000-trial soak). Such windows are NOT skipped
    # outright — GB/Big5 leads extend past 0xC0 (GB hanzi rows run
    # B0-F7), so e.g. 中×8 = d6d0×8 is genuine pure-upper-range
    # Chinese — instead the EA branch runs in upper_range mode, which
    # demands frequent-character confirmation (_chinese_confirms /
    # strict _korean_confirms) before the multi-byte reading wins.
    ea = _detect_east_asian(win, truncated,
                            upper_range=all(b >= 0xC0 for b in high))
    if ea is not None:
        return ea
    density = len(high) / max(len(letters), 1)
    if density > 0.5:
        # cp866 puts uppercase at 0x80-0x9F and SPLITS lowercase
        # across 0xA0-0xAF / 0xE0-0xEF, so even lowercase-heavy prose
        # keeps a large share below 0xC0 — where cp1251 (letters at
        # 0xC0-0xFF) and koi8 (0xC0-0xFF) have essentially none.
        dos_frac = sum(1 for b in high if b <= 0xBF) / len(high)
        if dos_frac > 0.25:
            return "cp866"
        in_cyr_range = sum(1 for b in high if b >= 0xC0) / len(high)
        if in_cyr_range > 0.9:
            koi_lower = sum(1 for b in high
                            if 0xC0 <= b <= 0xDF) / len(high)
            return "koi8_r" if koi_lower > 0.6 else "cp1251"
    return "cp1252"


def to_utf8_bytes(raw: bytes) -> str:
    """F1, the bytes branch of the reference's to_utf8
    (abc/abc.py:45-56): strict utf-8 first; on failure decode with the
    detected encoding; last resort utf-8 with errors='replace'. The
    detector is our deterministic subset (chardet is not available and
    is version-unstable; the three-step chain is the spec)."""
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        pass
    enc = detect_encoding(raw) or "utf-8"
    try:
        return raw.decode(enc)
    except (UnicodeDecodeError, LookupError):
        return raw.decode("utf-8", errors="replace")


def normalize_nfc(text: str) -> str:
    """NFC normalization (abc/abc.py:66-69). Applied only on the docx-kind
    path in the reference; our input kinds never trigger it, but the kernel
    keeps parity for when a docx-like kind is added."""
    return unicodedata.normalize("NFC", text)


def clean_and_fix(text: str) -> str:
    """The full per-text-item kernel in reference call-site order:
    clean_text then to_utf8 (pdf_parser.py:56-57)."""
    return fix_text(clean_text(text))


def docx_clean_and_fix(text: str) -> str:
    """The DocParser text-item kernel: NFC first, then clean_text,
    then to_utf8 (docx_parser.py:43-46 — the only parser that
    NFC-normalizes)."""
    return fix_text(clean_text(normalize_nfc(text)))


def clean_table_payload(payload: str, fix_cells: bool) -> str:
    """Per-cell cleaning of a table span payload (rows joined by
    ROW_SEP, cells by CELL_SEP). ``fix_cells=True`` is the pdf/html/
    pptx/xlsx cell rule (clean_text + to_utf8, pdf_parser.py:59-62);
    ``fix_cells=False`` is the DocParser asymmetry (clean_text ONLY,
    docx_parser.py:47-49 — mojibake in docx table cells stays)."""
    rows_out = []
    for row in payload.split(ROW_SEP):
        cells = []
        for cell in row.split(CELL_SEP):
            cell = clean_text(cell)
            if fix_cells:
                cell = fix_text(cell)
            cells.append(cell)
        rows_out.append(CELL_SEP.join(cells))
    return ROW_SEP.join(rows_out)
