"""Config-driven text rules: normalize (F1), repair (F2), join/eof (W3).

Functionally equivalent to the reference's JSON rule engine
(Config.java:95-145 loads per-language rule lists; Common.replaceText
Common.java:529-542 applies ordered regex search/replace; rule-based line
join at PDFExtract.java:919-999). Re-expressed as plain Python data +
per-string regex chains behind one combined gate regex; the default
ruleset reproduces the documented semantics of the reference's shipped
config (PDFExtract.json: ligature fold, smart-quote fold, ellipsis/dash
fold, NBSP strip; join rules for trailing commas / hyphen-split words /
lowercase continuations; absolute-EOF sentence boundaries).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from itertools import repeat

# Default ruleset, "common" language (applies to all docs before langid and
# again per-language after). Semantics per reference PDFExtract.json:11-44.
DEFAULT_CONFIG: dict = {
    "languages": {
        "common": {
            # ordered [pattern, replacement]
            "normalize": [
                ["ﬀ", "ff"],
                ["ﬁ\\s?", "fi"],
                ["ﬂ\\s?", "fl"],
                ["ﬃ", "ffi"],
                ["ﬄ", "ffl"],
                ["ﬅ", "ft"],
                ["ﬆ", "st"],
                ["[“”]", "\""],
                ["[’´]", "'"],
                ["…", "..."],
                ["–", "-"],
                ["­", ""],       # soft hyphen
                [" ", " "],      # NBSP → space
            ],
            # ordered [front_regex, back_regex, join_char]; first match wins
            "join_words": [
                [".*[\\,\\&\\;\\:]$", "", " "],
                [".*[a-z]+\\-$", "^[a-z]+.*", ""],
                [".*[a-z]{1,}$", "^[a-z]+.*", " "],
                [".*[\\,\\;\\s][A-Z]{1,1}$", "", " "],
                [".*\\s(to|for|at|by)$", "", " "],
            ],
            # [front_regex, back_regex] — hard sentence boundary, never join
            "absolute_eof": [
                # Java's variable-width lookbehind split into two fixed-width
                # Python lookbehinds (same semantics: line does not end with
                # , & ; : nor with space+single-capital)
                [".*(?<![\\,\\&\\;\\:])(?<![\\s][A-Z])$", "^[0-9 ]{0,}[A-Z]+.*"],
                [".*(\\?\\\"?|\\!\\\"?)$", ""],
                [".*\\w\\.$", ""],
                ["", "^[•]+.*"],
            ],
            # final punctuation repair after all joins
            "repair": [
                ["\\s(\\,|\\)|\\]|\\;)", "\\1"],
                ["(\\(|\\[)\\s", "\\1"],
                ["([^\\.])\\s(\\.)", "\\1\\2"],
            ],
        }
    }
}


_LOOKBEHIND_RE = re.compile(r"\(\?<([!=])((?:[^()]|\\\(|\\\))*)\)")


def _split_top_alternatives(body: str) -> list[str]:
    """Split a lookbehind body on top-level '|' (no nested groups in the
    reference's rules; escaped chars respected)."""
    out, cur, i = [], [], 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            cur.append(body[i:i + 2])
            i += 2
            continue
        if c == "|":
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    out.append("".join(cur))
    return out


def compile_compat(pattern: str) -> re.Pattern:
    """Compile a rule regex, accepting the reference's Java dialect.

    Java allows variable-width lookbehind alternations like
    ``(?<!\\,|\\&|\\;|\\:|\\s[A-Z]{1,1})`` (PDFExtract.json absolute_eof
    rule 1); Python's ``re`` requires fixed width per lookbehind. Each
    alternative is individually fixed-width, so negative ``(?<!a|b)``
    rewrites to the equivalent ``(?<!a)(?<!b)`` (De Morgan: NOT-a AND
    NOT-b). The split is ONLY valid for ``!``: for positive
    ``(?<=a|b)`` consecutive lookbehinds would turn OR into AND, so an
    unsupported variable-width positive lookbehind raises a clear error
    instead of silently matching the wrong lines."""
    try:
        return re.compile(pattern)
    except re.error:
        def fix(m: re.Match) -> str:
            op = m.group(1)
            alts = _split_top_alternatives(m.group(2))
            if len(alts) <= 1:
                return m.group(0)
            if op != "!":
                raise ValueError(
                    "unsupported variable-width positive lookbehind "
                    f"(?<={m.group(2)}): alternatives must share one "
                    "width, or split the rule into one per alternative"
                )
            return "".join(f"(?<{op}{a})" for a in alts)

        return re.compile(_LOOKBEHIND_RE.sub(fix, pattern))


_DOLLAR_GROUP_RE = re.compile(r"\$(\d+)")

#: patterns whose source contains backrefs shift meaning when combined
#: into one alternation (group renumbering) — they disable the gate;
#: likewise any flag beyond UNICODE (str patterns always carry UNICODE)
_BACKREF_RE = re.compile(r"\\\d")
_PLAIN_FLAGS = re.UNICODE


def compat_replacement(rep: str) -> str:
    """Java replacement group refs (``$1``, Common.replaceText
    Common.java:529-542) → Python (``\\1``)."""
    return _DOLLAR_GROUP_RE.sub(r"\\\1", rep)


def normalize_config(cfg: dict) -> dict:
    """Accept either our native shape ``{"languages": {name: rules}}`` or
    the reference's shipped shape ``{"script": {...}, "language":
    [{"name": ..., "config": {...}}]}`` (Config.java:95-145) and return
    the native shape. Per-language ``sentencejoin_model`` paths are
    preserved under the rules dict."""
    if "language" in cfg and isinstance(cfg["language"], list):
        langs: dict = {}
        for entry in cfg["language"]:
            name = entry.get("name")
            rules = dict(entry.get("config") or {})
            if name:
                langs[str(name)] = rules
        return {"languages": langs, "script": cfg.get("script", {})}
    return cfg


@dataclass
class LangRules:
    normalize: list[tuple[re.Pattern, str]] = field(default_factory=list)
    join_words: list[tuple[re.Pattern, re.Pattern | None, str]] = field(default_factory=list)
    absolute_eof: list[tuple[re.Pattern | None, re.Pattern | None]] = field(default_factory=list)
    repair: list[tuple[re.Pattern, str]] = field(default_factory=list)


class RuleSet:
    """Compiled rules, keyed by language ('common' + per-language overrides).

    Broadcast once per job; applied inside Arrow-batched UDFs
    (SURVEY.md §2.8 — config parsed on the driver, broadcast to UDFs).
    """

    def __init__(self, config: dict | None = None):
        cfg = normalize_config(config or DEFAULT_CONFIG)
        self.langs: dict[str, LangRules] = {}
        #: (names, kind) → (flat rule list, combined gate regex | None)
        self._chain_cache: dict = {}
        #: per-language W4 sentence-join ARPA model prefixes, when the
        #: config declares them (reference ``sentencejoin_model``)
        self.sj_prefixes: dict[str, str] = {}
        for lang, rules in cfg.get("languages", {}).items():
            lr = LangRules()
            for pat, rep in rules.get("normalize", []):
                lr.normalize.append((compile_compat(pat), compat_replacement(rep)))
            for front, back, ch in rules.get("join_words", []):
                lr.join_words.append(
                    (compile_compat(front),
                     compile_compat(back) if back else None, ch)
                )
            for front, back in rules.get("absolute_eof", []):
                lr.absolute_eof.append(
                    (compile_compat(front) if front else None,
                     compile_compat(back) if back else None)
                )
            for pat, rep in rules.get("repair", []):
                lr.repair.append((compile_compat(pat), compat_replacement(rep)))
            model = rules.get("sentencejoin_model")
            if model:
                self.sj_prefixes[lang] = str(model)
            self.langs[lang] = lr

    def _rules_of(self, names: tuple) -> list[LangRules]:
        """The rule sets of the languages ``names`` the config declares,
        in order, each once."""
        return [self.langs[n] for n in dict.fromkeys(names) if n in self.langs]

    def for_lang(self, lang: str | None) -> list[LangRules]:
        """Rule chains to apply: common first, then the language's own."""
        return self._rules_of(("common", lang))

    # -- application ---------------------------------------------------------
    def _chain(self, names: tuple, kind: str):
        """(rule list, gate) for the ``kind`` rules of the languages
        ``names``, in order, cached per (names, kind). The gate is ONE
        combined alternation of every search pattern: a line it doesn't
        match cannot be changed by any rule, so the common case (plain
        ASCII text) pays one C-level search instead of len(rules) subs.
        Disabled (None) when any pattern carries backrefs/flags that
        don't survive alternation."""
        key = (names, kind)
        hit = self._chain_cache.get(key)
        if hit is not None:
            return hit
        rules = [(pat, rep) for lr in self._rules_of(names)
                 for pat, rep in getattr(lr, kind)]
        gate = None
        if rules and not any(
            _BACKREF_RE.search(pat.pattern) or pat.flags & ~_PLAIN_FLAGS
            for pat, _ in rules
        ):
            try:
                gate = re.compile("|".join(f"(?:{p.pattern})" for p, _ in rules))
            except re.error:
                gate = None
        hit = (rules, gate)
        self._chain_cache[key] = hit
        return hit

    def normalize_str(self, text: str, lang: str = "common") -> str:
        """F1: ``lang``'s own normalize chain — common (the reference's
        pass before language id) or a detected language's (its pass
        after language id, PDFExtract.java:1054-1063)."""
        return self._apply_str(text, (lang,), "normalize")

    def repair_str(self, text: str, lang: str | None = None) -> str:
        """F2: the common repair chain, then ``lang``'s own."""
        return self._apply_str(text, ("common", lang), "repair")

    def normalize_series(self, texts, langs=None) -> list[str]:
        """F1 over one document's lines: each line's own language chain
        (``langs``, aligned with ``texts``), or common when None."""
        return [self.normalize_str(t, lang)
                for t, lang in zip(texts, langs or repeat("common"))]

    def repair_series(self, texts, langs) -> list[str]:
        """F2 over one document's lines, each with its own language."""
        return [self.repair_str(t, lang) for t, lang in zip(texts, langs)]

    def _apply_str(self, text: str, names: tuple, kind: str) -> str:
        rules, gate = self._chain(names, kind)
        if gate is not None and gate.search(text) is None:
            return text
        for pat, rep in rules:
            text = pat.sub(rep, text)
        return text

    def is_absolute_eof(self, cur: str, nxt: str, lang: str | None = None) -> bool:
        """True → hard sentence boundary between cur and nxt (never join).
        Reference: absolute_eof front/back pair check PDFExtract.java:941-956."""
        for lr in self.for_lang(lang):
            for front, back in lr.absolute_eof:
                if front is not None and not front.match(cur):
                    continue
                if back is not None and back.pattern and not back.match(nxt):
                    continue
                if front is None and (back is None or not back.pattern):
                    continue
                return True
        return False

    def join_char(self, cur: str, nxt: str, lang: str | None = None) -> str | None:
        """First matching join rule's join char, else None (no join).
        Reference: first-match-wins cascade PDFExtract.java:969-989."""
        for lr in self.for_lang(lang):
            for front, back, ch in lr.join_words:
                if not front.match(cur):
                    continue
                if back is not None and back.pattern and not back.match(nxt):
                    continue
                return ch
        return None
