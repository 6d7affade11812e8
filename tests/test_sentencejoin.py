"""W4 sentence join: pure-Python n-gram scorer (functions/sentencejoin)
vs the reference's KenLM-backed sentence-join.py semantics."""

import base64

import pytest

from pdf_extract_spark.functions.sentencejoin import (
    BREAK,
    NgramModel,
    SentenceJoinScorer,
    corpus_blocks,
    first_words,
    last_words,
)

CORPUS = ["the quick brown fox jumps over the lazy dog"] * 50


@pytest.fixture(scope="module")
def scorer():
    return SentenceJoinScorer.train(CORPUS)


def test_corpus_blocks_break_tokens_and_reversal():
    blocks = corpus_blocks(["a b c", "d e"])
    assert blocks == [["a", "b", "c", BREAK, "d", "e", BREAK]]
    rev = corpus_blocks(["a b c", "d e"], reverse=True)
    assert rev == [[BREAK, "e", "d", BREAK, "c", "b", "a"]]
    # 100-word block cut (sentence-join.py:47)
    big = corpus_blocks(["w" for _ in range(250)])
    assert [len(b) for b in big[:-1]] == [100, 100, 100, 100]


def test_model_is_a_distribution(scorer):
    m = scorer.forward
    # unigram mass ≈ 1 (Witten-Bell holds back a sliver for <unk>)
    uni = sum(10 ** lp for (_,), (lp, _) in m.ngrams[1].items())
    assert 0.95 < uni <= 1.0001
    # conditional mass given a seen 4-gram context ≈ 1
    ctx = ("the", "quick", "brown", "fox")
    vocab = [w for (w,) in m.ngrams[1] if w != "<unk>"]
    assert sum(10 ** m.logprob(ctx, w) for w in vocab) == pytest.approx(1.0, abs=1e-6)


def test_arpa_round_trip(scorer):
    m = scorer.forward
    m2 = NgramModel.from_arpa(m.to_arpa().splitlines())
    for ctx, w in [
        (("the", "quick", "brown", "fox"), "jumps"),
        (("the", "quick", "brown", "fox"), BREAK),
        (("over", "the", "lazy", "dog"), BREAK),
        (("never", "seen", "context", "words"), "dog"),
    ]:
        assert m2.logprob(ctx, w) == pytest.approx(m.logprob(ctx, w), abs=1e-6)


def test_join_decision(scorer):
    # mid-sentence split: break token never follows this context → join
    assert scorer.score("the quick brown fox", "jumps over the lazy dog") < 0
    assert scorer.should_join_texts("the quick brown fox", "jumps over the lazy dog")
    # true line boundary: break is the modal continuation → no join
    assert scorer.score("jumps over the lazy dog", "the quick brown fox") > 7.0
    assert not scorer.should_join_texts("jumps over the lazy dog", "the quick brown fox")


def test_java_wrapper_skip_rules(scorer):
    # PDFExtract.java:1769-1772: left ending '.' or right starting '•' skip
    assert not scorer.should_join_texts("the quick brown fox.", "jumps over")
    assert not scorer.should_join_texts("the quick brown fox", "• jumps over")
    assert not scorer.should_join_texts("", "jumps over")
    assert not scorer.should_join_texts("the quick brown fox", "")


def test_context_trimming():
    # getFirstWords/getLastWords keep ≤6 words (maxWordsJoin=5, inclusive
    # loops — PDFExtract.java:1671-1699)
    s = "one two three four five six seven eight"
    assert first_words(s) == "one two three four five six"
    assert last_words(s) == "three four five six seven eight"
    assert first_words("a b") == "a b"
    assert last_words("a b") == "a b"


def _two_line_pdf(line1: str, line2: str) -> bytes:
    parts = ["BT", "/F1 12 Tf", "72 700 Td", f"({line1}) Tj",
             "0 -14 Td", f"({line2}) Tj", "ET"]
    stream = "\n".join(parts).encode("latin-1")
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>",
        b"<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R >> >>"
        b" /MediaBox [0 0 612 792] /Contents 4 0 R >>",
        b"<< /Length " + str(len(stream)).encode() + b" >>\nstream\n"
        + stream + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /Name /F1 /BaseFont /Helvetica >>",
    ]
    buf = bytearray(b"%PDF-1.3\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(buf)
    buf += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        buf += f"{off:010d} 00000 n \n".encode()
    buf += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref}\n%%EOF\n").encode()
    return bytes(buf)


UPPER = ["THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG"] * 50


def test_extract_pdf_w4_joins_what_w3_cannot():
    """Uppercase continuation lines defeat every W3 join rule (they all
    key on lowercase/punctuation) and trip absolute_eof — only the W4
    model can join them."""
    from pdf_extract_spark.operators.extract import extract_pdf

    pdf = _two_line_pdf("THE QUICK BROWN FOX", "JUMPS OVER THE LAZY DOG")
    plain = extract_pdf(pdf)
    texts = [t for k, t, _, _ in plain.spans if k == "text"]
    assert texts == ["THE QUICK BROWN FOX", "JUMPS OVER THE LAZY DOG"]

    sc = SentenceJoinScorer.train(UPPER)
    joined = extract_pdf(pdf, sj_scorers={"common": sc})
    jtexts = [t for k, t, _, _ in joined.spans if k == "text"]
    assert jtexts == ["THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG"]


def _two_line_frame(spark):
    pdf64 = base64.b64encode(
        _two_line_pdf("THE QUICK BROWN FOX", "JUMPS OVER THE LAZY DOG")
    ).decode()
    return spark.createDataFrame(
        [("d0", [{"kind": "pdf", "text": pdf64, "media_ref": "", "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )


def _common_model_config(prefix: str) -> dict:
    import copy

    from pdf_extract_spark.functions.textrules import DEFAULT_CONFIG

    cfg = copy.deepcopy(DEFAULT_CONFIG)
    cfg["languages"]["common"]["sentencejoin_model"] = prefix
    return cfg


def test_pipeline_config_model_prefix_and_missing(spark, tmp_path):
    """A config model prefix's ``.threshold`` file sets its threshold;
    an unreadable prefix skips the stage with a warning."""
    from pdf_extract_spark.plans.pipeline import extract_spans

    prefix = str(tmp_path / "strict")
    SentenceJoinScorer.train(UPPER).save_arpa(prefix)
    df = _two_line_frame(spark)
    lines = ["THE QUICK BROWN FOX", "JUMPS OVER THE LAZY DOG"]

    # a threshold below every score: the model loads, nothing joins
    (tmp_path / "strict.threshold").write_text("0.9 -100.0\n")
    out = extract_spans(df, config=_common_model_config(prefix)).collect()[0]
    assert [s["text"] for s in out["spans"]] == lines
    assert out["error"] is None
    assert not out["warnings"]

    # unreadable model prefix → per-doc warning, stage skipped
    # (reference model-missing behavior, PDFExtract.java:1299-1324)
    out2 = extract_spans(
        df, config=_common_model_config(str(tmp_path / "nope"))).collect()[0]
    assert [s["text"] for s in out2["spans"]] == lines
    assert any(w["method"] == "sentencejoin" for w in out2["warnings"])


def test_extract_html_runs_config_model(spark, tmp_path):
    """The HTML sink runs W4 with the config's models, as the span sink
    does (the reference renders after its sentence join,
    PDFExtract.java:209-333): the two uppercase lines render as one."""
    from pdf_extract_spark.plans.pipeline import extract_html

    prefix = str(tmp_path / "sj")
    SentenceJoinScorer.train(UPPER).save_arpa(prefix)
    df = _two_line_frame(spark)
    plain = extract_html(df).collect()[0]["html"]
    assert "THE QUICK BROWN FOX JUMPS" not in plain
    row = extract_html(df, config=_common_model_config(prefix)).collect()[0]
    assert row["error"] is None
    assert "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG" in row["html"]


def test_tune_threshold_separates_perfectly(scorer):
    from pdf_extract_spark.functions.sentencejoin import tune_threshold

    t, f = tune_threshold(scorer, CORPUS[:10])
    # toy corpus: break (+10.3) and mid-sentence (−15.7) scores are
    # perfectly separable → near-perfect F at a threshold between them
    assert f > 0.9
    assert -15.0 < t < 10.0


def test_train_tune_apply_cli(tmp_path, monkeypatch, capsys):
    import io

    from scripts.train_sentencejoin import main

    corpus = tmp_path / "corpus.txt"
    corpus.write_text("\n".join(CORPUS) + "\n", encoding="utf-8")
    model = str(tmp_path / "m")

    main(["--train", "--model", model, "--text", str(corpus)])
    assert (tmp_path / "m.forward.lm").exists()
    assert (tmp_path / "m.backward.lm").exists()

    main(["--tune", "--model", model, "--dev", str(corpus)])
    assert (tmp_path / "m.threshold").exists()

    monkeypatch.setattr(
        "sys.stdin",
        io.StringIO("the quick brown fox\tjumps over the lazy dog\n"
                    "jumps over the lazy dog\tthe quick brown fox\n"
                    "malformed-no-tab\n"),
    )
    capsys.readouterr()
    main(["--apply", "--model", model])
    out = capsys.readouterr().out.strip().splitlines()
    assert out == ["True", "False", "Invalid input"]


def test_config_declared_per_language_models(spark, tmp_path):
    """X2 parity: sentencejoin_model paths declared in the rule config
    auto-load per executor, keyed by language (doc lang, 'common'
    fallback)."""
    from pdf_extract_spark.plans.pipeline import extract_spans

    prefix = str(tmp_path / "cm")
    SentenceJoinScorer.train(UPPER).save_arpa(prefix)
    out = extract_spans(_two_line_frame(spark),
                        config=_common_model_config(prefix)).collect()[0]
    assert [s["text"] for s in out["spans"]] == [
        "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG"
    ]
    assert out["error"] is None


def test_config_model_missing_for_one_language(spark, tmp_path):
    """A config whose ``de`` model is unreadable and whose ``en`` model
    loads: the English doc is joined, the German doc keeps its lines
    and gets the model-not-found warning."""
    import copy

    from pdf_extract_spark.functions.textrules import DEFAULT_CONFIG
    from pdf_extract_spark.plans.pipeline import extract_spans

    en = ("the cat and the dog are out in the garden",
          "With the ball on the grass in the sun today")
    de = ("die Katze und der Hund sind nicht in dem Garten",
          "Mit dem Ball auf der Wiese in der Sonne heute")
    prefix = str(tmp_path / "en")
    SentenceJoinScorer.train([" ".join(en)] * 50).save_arpa(prefix)
    cfg = copy.deepcopy(DEFAULT_CONFIG)
    cfg["languages"]["en"] = {"sentencejoin_model": prefix}
    cfg["languages"]["de"] = {"sentencejoin_model": str(tmp_path / "nope")}

    df = spark.createDataFrame(
        [(name, [{"kind": "pdf", "media_ref": "", "offset": 0,
                  "text": base64.b64encode(_two_line_pdf(*lines)).decode()}])
         for name, lines in (("en", en), ("de", de))],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = {r["doc_id"]: r for r in extract_spans(df, config=cfg).collect()}
    assert out["en"]["lang"] == "en"
    assert [s["text"] for s in out["en"]["spans"]] == [" ".join(en)]
    assert not out["en"]["warnings"]
    assert out["de"]["lang"] == "de"
    assert [s["text"] for s in out["de"]["spans"]] == list(de)
    assert [w["method"] for w in out["de"]["warnings"]] == ["sentencejoin"]


def test_arpa_threshold_file_and_explicit_threshold(tmp_path):
    """``from_arpa`` reads the prefix's ``.threshold`` file (the one
    ``--tune`` writes), an explicit threshold wins over it (``--apply
    --threshold``), and with neither the default holds."""
    sc = SentenceJoinScorer.train(CORPUS, order=3)
    prefix = str(tmp_path / "m")
    sc.save_arpa(prefix)
    assert SentenceJoinScorer.from_arpa(prefix).threshold == 7.0
    (tmp_path / "m.threshold").write_text("0.9 3.5\n")
    assert SentenceJoinScorer.from_arpa(prefix).threshold == 3.5
    assert SentenceJoinScorer.from_arpa(prefix, 5.0).threshold == 5.0
