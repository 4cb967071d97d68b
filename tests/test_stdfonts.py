"""Adobe standard-14 font metrics (F2 completion — VERDICT r3 §missing #1/#2).

The width data is the public Adobe Core-14 AFM metrics; parity is
checked two independent ways: hand-pinned AFM anchor values, and an
ASCII sweep against the reference's own FontMetrics tables (a
different derivation of the same public data)."""

from __future__ import annotations

import os
import re

import pytest

from pdftotext_spark.core.document import ExtractOptions, extract_document
from pdftotext_spark.core.fonts import parse_font
from pdftotext_spark.core.stdfonts import (
    normalize_std_font_name,
    std_font_widths,
)
from pdftotext_spark.sources import pdfbuilder as pb

REF_FM_DIR = "/root/reference/FontMetrics"


def test_afm_anchor_values():
    # hand-pinned Core-14 AFM facts (independent of the reference)
    h = std_font_widths("Helvetica")
    assert h[ord(" ")] == 278 and h[ord("W")] == 944 and h[ord("i")] == 222
    assert h[ord("@")] == 1015 and h[ord("m")] == 833
    hb = std_font_widths("Helvetica-Bold")
    assert hb[ord("i")] == 278 and hb[ord("@")] == 975
    t = std_font_widths("Times-Roman")
    assert t[ord(" ")] == 250 and t[ord("W")] == 944 and t[ord("@")] == 921
    for face in ("Courier", "Courier-Bold", "Courier-Oblique", "Courier-BoldOblique"):
        c = std_font_widths(face)
        assert all(c[cp] == 600 for cp in range(0x20, 0x7F))
    # obliques share the upright's metrics (public AFM fact)
    assert std_font_widths("Helvetica-Oblique") == std_font_widths("Helvetica")
    # composite rule: accented letters inherit the base advance;
    # i-accents build on dotlessi (278 in Helvetica, not i's 222)
    assert h[ord("é")] == h[ord("e")] == 556
    assert h[ord("ì")] == 278
    # Symbol: Greek alphabet widths (AFM), keyed by byte code
    s = std_font_widths("Symbol")
    assert s[65] == 722 and s[97] == 631  # Alpha / alpha


def test_font_name_normalization():
    assert normalize_std_font_name("ABCDEF+Helvetica-Bold") == "helvetica-bold"
    assert normalize_std_font_name("Arial") == "helvetica"
    assert normalize_std_font_name("TimesNewRomanPSMT") == "times-roman"
    assert normalize_std_font_name("NotAStandardFont") is None
    assert normalize_std_font_name("") is None


@pytest.mark.skipif(
    not os.path.isdir(REF_FM_DIR), reason="reference FontMetrics not present"
)
def test_ascii_parity_with_reference_fm_tables():
    """ASCII 32–126 sweep vs the reference's FontMetrics data — an
    independent derivation of the same Adobe data
    (PdfToText.php:1142–1158). Known divergence: helvetica code 93
    (']' — true AFM bracketright is 278 = bracketleft; the reference
    table carries 277)."""
    fm_files = {
        "courier": "courier.fm",
        "courier-bold": "courierb.fm",
        "courier-oblique": "courieri.fm",
        "courier-boldoblique": "courierbi.fm",
        "helvetica": "helvetica.fm",
        "helvetica-bold": "helveticab.fm",
        "helvetica-oblique": "helveticai.fm",
        "helvetica-boldoblique": "helveticabi.fm",
        "symbol": "symbol.fm",
        "times-roman": "times.fm",
        "times-bold": "timesb.fm",
        "times-italic": "timesi.fm",
        "times-bolditalic": "timesbi.fm",
    }
    allowed = {("helvetica", 93), ("helvetica-oblique", 93)}
    for name, fn in fm_files.items():
        with open(os.path.join(REF_FM_DIR, fn)) as fh:
            fm = {
                int(c): int(w)
                for c, w in re.findall(r"(\d+)\s*=>\s*(\d+)", fh.read())
            }
        mine = std_font_widths(name)
        for code in range(32, 127):
            if (name, code) in allowed:
                continue
            assert int(mine[code]) == fm[code], (name, code, mine[code], fm[code])


@pytest.mark.skipif(
    not os.path.isdir(REF_FM_DIR), reason="reference FontMetrics not present"
)
def test_zapfdingbats_parity_with_reference_fm_table():
    """Every shipped ZapfDingbats code (the AFM-encoded ornament set,
    r5, plus the 14 PDF-spec supplemental ornaments at 128–141, r6)
    vs the reference's independently-derived zapfdingbats.fm — same
    Adobe Core-14 source, so every overlapping code must agree.
    Codes the repo deliberately does NOT ship (the reference's 746
    .notdef filler at 0–31/127/142–160/240/255) fall back to the
    font default width instead."""
    with open(os.path.join(REF_FM_DIR, "zapfdingbats.fm")) as fh:
        fm = {
            int(c): int(w)
            for c, w in re.findall(r"(\d+)\s*=>\s*(\d+)", fh.read())
        }
    mine = std_font_widths("ZapfDingbats")
    # 32..126, the supplemental 128..141, and 161..254 minus 240
    assert len(mine) == 95 + 14 + 93
    for code, w in mine.items():
        assert int(w) == fm[code], (code, w, fm[code])
    assert 240 not in mine and 160 not in mine and 255 not in mine
    # ADVICE r5: the supplemental ornaments are real widths, not filler
    assert mine[134] == 509.0 and mine[138] == 234.0


def test_zapfdingbats_run_measures_afm_widths():
    """Dingbat runs measure with real per-ornament advances, not the
    font default (the r4 gap: only space was shipped)."""
    font = parse_font(
        1, b"<< /Type /Font /Subtype /Type1 /BaseFont /ZapfDingbats >>"
    )
    # scissors (a1, code 33) vs pencil (a12, code 44): distinct widths
    assert font.char_width(33) == 974.0
    assert font.char_width(44) == 549.0
    assert font.char_width(120) == 138.0  # a98, the narrowest ornament
    run = "".join(chr(c) for c in (33, 32, 44))
    assert font.string_width(run, 10.0) == pytest.approx(
        (974 + 278 + 549) * 10 / 1000.0
    )
    # unencoded ornament code → font default, same as unknown chars
    assert font.char_width(240) == font.missing_width


def test_embedded_widths_rekeyed_through_encoding():
    """ADVICE r4: embedded /Widths are code-keyed in the PDF but
    char_width is called with DECODED chars — a Cyrillic-variant
    WinAnsi font's width for code 0xC0 must be found at ord('А'),
    and the raw code key must not shadow a Latin codepoint."""
    font = parse_font(
        1,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /ABCDEF+NimbusCyr "
        b"/Encoding /WinAnsiEncoding /FirstChar 192 /Widths [ 640 ] >>",
    )
    assert font.encoding == "winansi-cyr"
    assert font.map_char(0xC0) == "А"
    # the decoded char finds the embedded width...
    assert font.char_width(ord("А")) == 640.0
    # ...and the raw byte code (U+00C0 À — never produced by this
    # font's decode) is NOT silently claimed by it
    assert font.char_width(0xC0) == font.missing_width

    # plain WinAnsi high range: code 0x85 decodes to U+2026 ellipsis
    f2 = parse_font(
        2,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /ABCDEF+Nimbus "
        b"/Encoding /WinAnsiEncoding /FirstChar 133 /Widths [ 1000 ] >>",
    )
    assert f2.map_char(0x85) == "…"
    assert f2.char_width(0x2026) == 1000.0


def test_no_widths_standard_font_gets_metric_widths():
    # a Helvetica font object with no /Widths (the extremely common
    # simple-generator shape) must measure via the AFM table, not the
    # flat 500 default
    font = parse_font(1, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    assert font.char_width(ord("i")) == 222.0
    assert font.char_width(ord("W")) == 944.0
    assert font.string_width("iii", 10.0) == pytest.approx(3 * 222 * 10 / 1000.0)
    # unknown char still falls to missing_width
    assert font.char_width(0x4E9C) == font.missing_width


def test_embedded_widths_override_std_metrics():
    body = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/FirstChar 65 /Widths [ 700 0 ] >>"
    )
    font = parse_font(1, body)
    assert font.char_width(65) == 700.0           # embedded wins over AFM 667
    assert font.char_width(66) == font.missing_width  # zero → default (PdfToText.php:6573)
    assert font.char_width(67) == 722.0           # outside range → AFM


def test_fontmatrix_scales_type3_widths():
    # Type3 glyph space: /FontMatrix [0.01 ...] → widths ×(1000*0.01)
    body = (
        b"<< /Type /Font /Subtype /Type3 /FontMatrix [0.01 0 0 0.01 0 0] "
        b"/FirstChar 48 /Widths [ 50 60 ] >>"
    )
    font = parse_font(1, body)
    assert font.char_width(48) == 500.0
    assert font.char_width(49) == 600.0


def test_charprocs_unresolvable_names_keep_raw_codes():
    """Review r4: unresolvable charproc names (/a0, /a1 — '?' via
    glyph_to_char) must NOT all collapse onto ord('?'); a genuine
    /question glyph still re-keys (the raw-name disambiguation)."""
    body = (
        b"<< /Type /Font /Subtype /Type3 /FontMatrix [0.001 0 0 0.001 0 0] "
        b"/CharProcs << /a0 8 0 R /a1 9 0 R /question 10 0 R >> "
        b"/Encoding << /Differences [ 0 /a0 /a1 65 /question ] >> "
        b"/FirstChar 0 /Widths [ 111 222 ] >>"
    )
    font = parse_font(1, body)
    # unresolvable names stay at their raw codes, distinct widths kept
    assert font.char_width(0) == 111.0
    assert font.char_width(1) == 222.0
    # /question resolves to '?' and re-keys its width there
    body2 = (
        b"<< /Type /Font /Subtype /Type3 /FontMatrix [0.001 0 0 0.001 0 0] "
        b"/CharProcs << /question 10 0 R >> "
        b"/Encoding << /Differences [ 65 /question ] >> "
        b"/FirstChar 65 /Widths [ 444 ] >>"
    )
    font2 = parse_font(1, body2)
    assert font2.char_width(ord("?")) == 444.0


def test_charprocs_rekey_through_differences():
    # Type3 /CharProcs font: the /Widths entry for code 0 (named /a1,
    # decoded via /Differences) must be found when looking up by the
    # DECODED character (PdfToText.php:6560–6572)
    body = (
        b"<< /Type /Font /Subtype /Type3 /FontMatrix [0.001 0 0 0.001 0 0] "
        b"/CharProcs << /a1 9 0 R >> "
        b"/Encoding << /Differences [ 0 /x ] >> "
        b"/FirstChar 0 /Widths [ 444 ] >>"
    )
    font = parse_font(1, body)
    assert font.char_width(ord("x")) == 444.0


def test_layout_fragments_use_metric_widths():
    # end-to-end: simple_pdf embeds no /Widths; layout-mode fragment
    # widths must now be metrically correct (not len*500)
    pdf = pb.simple_pdf([["iiii", "WWWW"]])
    res = extract_document(pdf, ExtractOptions(layout=True, want_fragments=True))
    frags = {f.text: f for f in res.fragments}
    narrow = frags["iiii"].width
    wide = frags["WWWW"].width
    assert wide / narrow == pytest.approx(944 / 222, rel=1e-6)


def test_ligature_widths_never_shadow_codepoints():
    """Review r5 pass 2: a /Widths entry whose code decodes to a
    multi-char ToUnicode expansion is dropped from the width table —
    keyed at ord('f') it would clobber the letter width, keyed at the
    raw code it would shadow that codepoint's AFM entry."""
    from pdftotext_spark.core.cmaps import ToUnicodeCMap

    font = parse_font(
        1,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/FirstChar 251 /Widths [ 900 ] >>",
    )
    # code 0xFB -> 'fi' (the classic subset-font ligature mapping)
    cmap = ToUnicodeCMap()
    cmap.direct = {0xFB: "fi"}
    font.cmap = cmap
    assert font.map_char(0xFB) == "fi"
    assert font.char_width(ord("f")) == 278.0   # AFM, not 900
    assert font.char_width(0xFB) == 556.0       # AFM u-circumflex (u-composite) survives
