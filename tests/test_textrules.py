"""Unit tests: normalize/repair/join/eof rules (functions/textrules)."""

import pytest

from pdf_extract_spark.functions.textrules import DEFAULT_CONFIG, RuleSet


@pytest.fixture(scope="module")
def rules():
    return RuleSet()


class TestNormalize:
    def test_ligatures(self, rules):
        assert rules.normalize_str("eﬀort ﬁne ﬂow oﬃce waﬄe") == "effort fine flow office waffle"

    def test_smart_quotes(self, rules):
        assert rules.normalize_str("“quoted” and ’apos’") == '"quoted" and \'apos\''

    def test_ellipsis_dash_nbsp(self, rules):
        assert rules.normalize_str("a… b–c d e") == "a... b-c d e"

    def test_idempotent(self, rules):
        s = "eﬀort “x” … – ﬁn"
        once = rules.normalize_str(s)
        assert rules.normalize_str(once) == once

    def test_series_matches_scalar(self, rules):
        texts = ["eﬀort ﬁne", "“q” – …", "plain"]
        assert rules.normalize_series(texts) == [rules.normalize_str(t) for t in texts]
        assert rules.repair_series(texts, ["en"] * 3) == [
            rules.repair_str(t, "en") for t in texts]


class TestRepair:
    def test_space_before_punct(self, rules):
        assert rules.repair_str("word , next ) x ; y") == "word, next) x; y"

    def test_space_after_open(self, rules):
        assert rules.repair_str("a ( b") == "a (b"

    def test_space_before_period(self, rules):
        assert rules.repair_str("end . Next") == "end. Next"

    def test_dot_sequences(self, rules):
        # ([^.])\s(\.) is single-pass: only the first gap closes
        assert rules.repair_str("a . . .") == "a. . ."
        assert rules.repair_str("wait ...") == "wait..."


class TestJoinRules:
    def test_trailing_comma_joins(self, rules):
        assert rules.join_char("ends with,", "anything") == " "

    def test_hyphen_join_lowercase(self, rules):
        assert rules.join_char("hyphen-", "ated word") == ""

    def test_lowercase_continuation(self, rules):
        assert rules.join_char("ends lower", "case start") == " "

    def test_no_join_upper_after_period(self, rules):
        assert rules.join_char("Ends.", "Next") is None


class TestAbsoluteEof:
    def test_sentence_end_then_capital(self, rules):
        assert rules.is_absolute_eof("A sentence end", "Next sentence") is True

    def test_question_mark(self, rules):
        assert rules.is_absolute_eof("Really?", "yes") is True

    def test_word_period(self, rules):
        assert rules.is_absolute_eof("the end.", "and then") is True

    def test_bullet_start(self, rules):
        assert rules.is_absolute_eof("anything", "• bullet item") is True

    def test_comma_not_eof(self, rules):
        assert rules.is_absolute_eof("ends with,", "lower continuation") is False


class TestConfig:
    def test_custom_language_rules(self):
        cfg = {
            "languages": {
                "common": DEFAULT_CONFIG["languages"]["common"],
                "de": {"normalize": [["ß", "ss"]], "join_words": [],
                        "absolute_eof": [], "repair": []},
            }
        }
        rs = RuleSet(cfg)
        assert rs.normalize_str("straße", "de") == "strasse"
        assert rs.normalize_str("straße", "en") == "straße"

    def test_extract_pdf_runs_the_line_language_rules(self):
        """A line detected as ``de`` gets the ``de`` normalize chain
        after language id and the common + ``de`` repair chain
        (PDFExtract.java:1054-1063)."""
        import copy

        from pdf_extract_spark.operators.extract import extract_pdf
        from tests.test_sentencejoin import _two_line_pdf

        cfg = copy.deepcopy(DEFAULT_CONFIG)
        cfg["languages"]["de"] = {"normalize": [["Katze", "KATZE"]],
                                  "repair": [["Hund", "HUND"]]}
        pdf = _two_line_pdf("Die Katze und der Hund sind nicht hier",
                            "Ein Haus , mit dem Garten")
        res = extract_pdf(pdf, RuleSet(cfg))
        assert res.lang == "de"
        assert [t for k, t, _, _ in res.spans if k == "text"] == [
            "Die KATZE und der HUND sind nicht hier",
            "Ein Haus, mit dem Garten",
        ]
        # a language rule that empties a line drops it, and the edge
        # whitespace it leaves is stripped
        cfg["languages"]["de"]["normalize"] += [["hier", "hier  "],
                                                ["^Ein Haus.*", ""]]
        assert [t for _, t, _, _ in extract_pdf(pdf, RuleSet(cfg)).spans] == [
            "Die KATZE und der HUND sind nicht hier",
        ]
        # the default config leaves both words alone
        assert [t for _, t, _, _ in extract_pdf(pdf).spans] == [
            "Die Katze und der Hund sind nicht hier",
            "Ein Haus, mit dem Garten",
        ]

    def test_html_lines_run_the_line_language_rules(self):
        """An html line detected as ``de`` gets the ``de`` normalize
        chain and the common + ``de`` repair chain, as a pdf line does;
        a line the language rules empty is dropped."""
        import copy

        from pdf_extract_spark.plans.pipeline import _walk_spans

        def lines(cfg):
            span = {"kind": "html", "media_ref": "", "offset": 0, "text": (
                "<html><body><p>Die Katze und der Hund sind nicht hier , "
                "sagt sie</p><p>The cat and the dog are not here , she "
                "says</p></body></html>")}
            [(kind, (parts, _))] = _walk_spans([span], RuleSet(cfg), None)
            assert kind == "html"
            return [(t, lang) for _, t, _, lang in parts]

        cfg = copy.deepcopy(DEFAULT_CONFIG)
        cfg["languages"]["de"] = {"normalize": [["Katze", "KATZE"]],
                                  "repair": [["Hund", "HUND"]]}
        assert lines(cfg) == [
            ("Die KATZE und der HUND sind nicht hier, sagt sie", "de"),
            ("The cat and the dog are not here, she says", "en"),
        ]
        cfg["languages"]["de"]["normalize"] += [["^Die .*", "  "]]
        assert lines(cfg) == [
            ("The cat and the dog are not here, she says", "en")]
        # the default config leaves both words alone
        assert lines(None)[0] == (
            "Die Katze und der Hund sind nicht hier, sagt sie", "de")


class TestReferenceConfigCompat:
    """RuleSet must consume the reference's SHIPPED PDFExtract.json
    verbatim: its {language:[{name,config}]} shape (Config.java:95-145),
    Java variable-width lookbehind alternations, and $1 replacement
    group refs."""

    REF_CONFIG = "/root/reference/PDFExtract.json"

    @pytest.fixture(scope="class")
    def ref_rules(self):
        import json
        import os

        from pdf_extract_spark.functions.textrules import RuleSet

        if not os.path.exists(self.REF_CONFIG):
            pytest.skip("reference config unavailable")
        with open(self.REF_CONFIG) as fh:
            return RuleSet(json.load(fh))

    def test_loads_both_languages(self, ref_rules):
        assert "common" in ref_rules.langs
        assert "en" in ref_rules.langs
        assert ref_rules.sj_prefixes.get("en") == "/home/usr/models/toy-model"

    def test_normalize_ligatures(self, ref_rules):
        assert ref_rules.normalize_str("eﬀort oﬃce ﬁt") == "effort office fit"

    def test_repair_dollar_groups(self, ref_rules):
        # '$1' backrefs: strip space before , ) ] ; and before final .
        assert ref_rules.repair_str("word , next") == "word, next"
        assert ref_rules.repair_str("end .") == "end."

    def test_variable_width_lookbehind_eof(self, ref_rules):
        # rule 1: front must NOT end with , & ; : or space+capital
        assert ref_rules.is_absolute_eof("A sentence end", "Next line starts")
        assert not ref_rules.is_absolute_eof("ends with,", "Next line")
        assert not ref_rules.is_absolute_eof("initial A", "Next line")

    def test_join_cascade_same_as_default(self, ref_rules):
        # hyphen-split lowercase word joins with '' (rule 2)
        assert ref_rules.join_char("broken exam-", "ple word") == ""
        # trailing comma joins with ' ' (rule 1)
        assert ref_rules.join_char("a, b,", "c d") == " "


def test_positive_lookbehind_alternation_rejected():
    """(?<=a|bb) must NOT be split into consecutive lookbehinds (that
    would turn OR into AND) — it raises a clear unsupported error."""
    import pytest

    from pdf_extract_spark.functions.textrules import compile_compat

    # negative form still rewrites fine
    assert compile_compat(r"(?<!\,|\s[A-Z]{1,1})x").search("ax")
    with pytest.raises(ValueError, match="positive lookbehind"):
        compile_compat(r"(?<=foo|barbaz)x")
