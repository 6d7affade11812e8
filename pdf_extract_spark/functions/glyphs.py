"""Glyph-name → Unicode tables and base encodings for simple fonts.

Public knowledge: Adobe Glyph List (AGL) subset + the standard PDF base
encodings. Replaces the glyph decoding poppler did for the reference
(reference consumed poppler's already-decoded XML text; we decode from
raw content streams — SURVEY.md §2.1 S4, §7 step 2).
"""

from __future__ import annotations

import re

# Compact AGL subset: Latin + punctuation + common ligatures/symbols.
AGL: dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@",
    "bracketleft": "[", "backslash": "\\", "bracketright": "]",
    "asciicircum": "^", "underscore": "_", "grave": "`",
    "braceleft": "{", "bar": "|", "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "periodcentered": "·", "middot": "·",
    "fi": "ﬁ", "fl": "ﬂ", "ff": "ﬀ",
    "ffi": "ﬃ", "ffl": "ﬄ",
    "guillemotleft": "«", "guillemotright": "»",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "exclamdown": "¡", "questiondown": "¿",
    "cent": "¢", "sterling": "£", "yen": "¥",
    "florin": "ƒ", "section": "§", "currency": "¤",
    "copyright": "©", "registered": "®", "trademark": "™",
    "degree": "°", "plusminus": "±", "multiply": "×",
    "divide": "÷", "mu": "µ", "paragraph": "¶",
    "fraction": "⁄", "euro": "€", "minus": "−",
    "nbspace": " ", "softhyphen": "­",
    "onequarter": "¼", "onehalf": "½", "threequarters": "¾",
    "onesuperior": "¹", "twosuperior": "²",
    "threesuperior": "³", "ordfeminine": "ª",
    "ordmasculine": "º", "brokenbar": "¦", "logicalnot": "¬",
    "dieresis": "¨", "macron": "¯", "acute": "´",
    "cedilla": "¸", "caron": "ˇ", "breve": "˘",
    "circumflex": "ˆ", "dotaccent": "˙", "hungarumlaut": "˝",
    "ogonek": "˛", "ring": "˚", "tilde": "˜",
    # Greek (math-adjacent usage in documents)
    "alpha": "α", "beta": "β", "gamma": "γ",
    "delta": "δ", "epsilon": "ε", "lambda": "λ",
    "pi": "π", "sigma": "σ", "omega": "ω",
    "Delta": "Δ", "Omega": "Ω", "Sigma": "Σ",
}

# single-character names map to themselves (a, B, …)
_ACCENT_BASE = {
    "acute": "́", "grave": "̀", "circumflex": "̂",
    "tilde": "̃", "dieresis": "̈", "ring": "̊",
    "cedilla": "̧", "macron": "̄", "breve": "̆",
    "caron": "̌", "slash": "̸", "ogonek": "̨",
    "hungarumlaut": "̋", "dotaccent": "̇",
}

_UNI_RE = re.compile(r"^uni([0-9A-Fa-f]{4})(?:[0-9A-Fa-f]{4})*$")
_U_RE = re.compile(r"^u([0-9A-Fa-f]{4,6})$")
_ACCENTED_RE = re.compile(
    r"^([A-Za-z])(acute|grave|circumflex|tilde|dieresis|ring|cedilla|macron|"
    r"breve|caron|slash|ogonek|hungarumlaut|dotaccent)$"
)

import unicodedata


def glyph_to_unicode(name: str) -> str | None:
    """Resolve a PostScript glyph name to Unicode text (AGL conventions)."""
    if not name:
        return None
    if name in AGL:
        return AGL[name]
    if len(name) == 1:
        return name
    m = _UNI_RE.match(name)
    if m:
        hexes = name[3:]
        return "".join(
            chr(int(hexes[i : i + 4], 16)) for i in range(0, len(hexes), 4)
        )
    m = _U_RE.match(name)
    if m:
        return chr(int(m.group(1), 16))
    m = _ACCENTED_RE.match(name)
    if m:
        combined = unicodedata.normalize("NFC", m.group(1) + _ACCENT_BASE[m.group(2)])
        return combined
    # names like "Xsmall", "A.alt", "g123" — strip suffix after '.' and retry
    if "." in name:
        return glyph_to_unicode(name.split(".", 1)[0])
    return None


def _codec_table(codec: str) -> dict[int, str]:
    table: dict[int, str] = {}
    for c in range(32, 256):
        try:
            table[c] = bytes([c]).decode(codec)
        except UnicodeDecodeError:
            pass
    return table


#: code → unicode for the standard single-byte encodings, built once per
#: process (StandardEncoding ≈ ASCII for the printable range + a few
#: extras)
_BASE_TABLES: dict[str, dict[int, str]] = {
    "WinAnsiEncoding": _codec_table("cp1252"),
    "MacRomanEncoding": _codec_table("mac_roman"),
    "StandardEncoding": {
        **{c: chr(c) for c in range(32, 127)},
        0xA1: "¡", 0xA2: "¢", 0xA3: "£", 0xA5: "¥",
        0xA7: "§", 0xA9: "’", 0xAA: "“", 0xAB: "«",
        0xB4: "·", 0xB5: "¶", 0xB7: "•", 0xB8: "‚",
        0xB9: "„", 0xBA: "”", 0xBB: "»", 0xBC: "…",
        0xD0: "—", 0x27: "’", 0x60: "‘",
        0xAE: "ﬁ", 0xAF: "ﬂ", 0xB1: "–",
    },
}


def base_encoding_table(kind: str) -> dict[int, str]:
    """code → unicode for the standard single-byte encodings (any other
    name reads as StandardEncoding). A fresh copy: fonts apply their
    ``/Differences`` to it in place."""
    return dict(_BASE_TABLES.get(kind, _BASE_TABLES["StandardEncoding"]))


# Standard-14 AFM advance widths (1000-unit em) for ASCII 32..126 — width
# fallback for non-embedded base fonts so line-gap → word-space and column
# gutter decisions stay accurate (public Adobe AFM data).
HELVETICA_WIDTHS = [
    278, 278, 355, 556, 556, 889, 667, 191, 333, 333, 389, 584, 278, 333,
    278, 278, 556, 556, 556, 556, 556, 556, 556, 556, 556, 556, 278, 278,
    584, 584, 584, 556, 1015, 667, 667, 722, 722, 667, 611, 778, 722, 278,
    500, 667, 556, 833, 722, 778, 667, 778, 722, 667, 611, 722, 667, 944,
    667, 667, 611, 278, 278, 278, 469, 556, 333, 556, 556, 500, 556, 556,
    278, 556, 556, 222, 222, 500, 222, 833, 556, 556, 556, 556, 333, 500,
    278, 556, 500, 722, 500, 500, 500, 334, 260, 334, 584,
]

HELVETICA_BOLD_WIDTHS = [
    278, 333, 474, 556, 556, 889, 722, 238, 333, 333, 389, 584, 278, 333,
    278, 278, 556, 556, 556, 556, 556, 556, 556, 556, 556, 556, 333, 333,
    584, 584, 584, 611, 975, 722, 722, 722, 722, 667, 611, 778, 722, 278,
    556, 722, 611, 833, 722, 778, 667, 778, 722, 667, 611, 722, 667, 944,
    667, 667, 611, 333, 278, 333, 584, 556, 333, 556, 611, 556, 611, 556,
    333, 611, 611, 278, 278, 556, 278, 889, 611, 611, 611, 611, 389, 556,
    333, 611, 556, 778, 556, 556, 500, 389, 280, 389, 584,
]

TIMES_ROMAN_WIDTHS = [
    250, 333, 408, 500, 500, 833, 778, 180, 333, 333, 500, 564, 250, 333,
    250, 278, 500, 500, 500, 500, 500, 500, 500, 500, 500, 500, 278, 278,
    564, 564, 564, 444, 921, 722, 667, 667, 722, 611, 556, 722, 722, 333,
    389, 722, 611, 889, 722, 722, 556, 722, 667, 556, 611, 722, 722, 944,
    722, 722, 611, 333, 278, 333, 469, 500, 333, 444, 500, 444, 500, 444,
    333, 500, 500, 278, 278, 500, 278, 778, 500, 500, 500, 500, 333, 389,
    278, 500, 500, 722, 500, 500, 444, 480, 200, 480, 541,
]

TIMES_BOLD_WIDTHS = [
    250, 333, 555, 500, 500, 1000, 833, 278, 333, 333, 500, 570, 250, 333,
    250, 278, 500, 500, 500, 500, 500, 500, 500, 500, 500, 500, 333, 333,
    570, 570, 570, 500, 930, 722, 667, 722, 722, 667, 611, 778, 778, 389,
    500, 778, 667, 944, 722, 778, 611, 778, 722, 556, 667, 722, 722, 1000,
    722, 722, 667, 333, 278, 333, 581, 500, 333, 500, 556, 444, 556, 444,
    333, 500, 556, 278, 333, 556, 278, 833, 556, 500, 556, 556, 444, 389,
    333, 556, 500, 722, 500, 500, 444, 394, 220, 394, 520,
]


def default_width_for(code: int, basefont: str) -> float:
    bf = (basefont or "").lower()
    if "courier" in bf or "mono" in bf:
        return 600.0
    bold = "bold" in bf
    if "times" in bf or "roman" in bf or "serif" in bf or "georgia" in bf:
        table = TIMES_BOLD_WIDTHS if bold else TIMES_ROMAN_WIDTHS
    else:
        table = HELVETICA_BOLD_WIDTHS if bold else HELVETICA_WIDTHS
    if 32 <= code <= 126:
        return float(table[code - 32])
    return 500.0
