"""W4 sentence join: pure-Python backoff n-gram scorer replacing the
reference's KenLM subprocess pipeline.

The reference forks one ``sentence-join.py`` worker per language
(SentenceJoin.java:76-152), which itself forks two KenLM ``query``
processes (sentence-join/sentence-join.py:29,231-232) and answers one
join/no-join decision per stdin line. Here the same decision function is
an in-process scorer object: two Witten-Bell-smoothed backoff n-gram
models (forward and backward token order), loadable from standard ARPA
files or trained directly from a text corpus, broadcast once per Spark
job and applied inside the Arrow-batched extraction UDF — no subprocess,
no per-row pipe round-trip (SURVEY.md §2.5 W4 "v2" plan).

Decision semantics mirror sentence-join.py exactly:

* training corpus prep (sentence-join.py:43-60): token stream with a
  ``___BREAK___`` token after every line, cut into blocks of 100 words;
  the backward model trains on reversed blocks.
* runtime contexts (sentence-join.py:166-189): last 4 words of the left
  line (``___DUMMY___``-padded) and first 4 words of the right line,
  the right context in reversed order for the backward model.
* score (sentence-join.py:72-84): ``score = [lp_f(BREAK|left) -
  lp_f(first_right|left)] + [lp_b(BREAK|right_rev) -
  lp_b(last_left|right_rev)]``; join iff ``score < threshold``
  (default 7.0, sentence-join.py:243-248).

The Java wrapper's skip rules and 6-word context trimming
(PDFExtract.java:1671-1699 getFirstWords/getLastWords with
maxWordsJoin=5; skip when left ends ``.`` or right starts ``•``,
PDFExtract.java:1769-1772) live in ``should_join_texts``.
"""

from __future__ import annotations

import math
from collections import defaultdict

BREAK = "___BREAK___"
DUMMY = "___DUMMY___"
UNK = "<unk>"

#: reference defaults: 5-gram models (sentence-join.py:64 "--order 5"),
#: threshold 7.0 (sentence-join.py:243), ≤6-word contexts
#: (PDFExtract.java:78 maxWordsJoin=5, loops inclusive)
DEFAULT_ORDER = 5
DEFAULT_THRESHOLD = 7.0
MAX_WORDS_JOIN = 5
_TRAIN_BLOCK = 100  # sentence-join.py:47 max_line_size


class NgramModel:
    """Backoff n-gram LM over log10 probabilities (ARPA semantics).

    ``ngrams[k]`` maps a k-tuple of words to ``(log10 prob, log10
    backoff)``. Scoring uses the standard ARPA recursion: longest match
    wins, otherwise add the context's backoff weight and recurse on the
    shortened context; unknown words fall back to ``<unk>``.
    """

    def __init__(self, order: int):
        self.order = order
        self.ngrams: list[dict[tuple[str, ...], tuple[float, float]]] = [
            {} for _ in range(order + 1)  # index by n; [0] unused
        ]

    # -- scoring -------------------------------------------------------------
    def logprob(self, context: tuple[str, ...], word: str) -> float:
        """log10 P(word | context), KenLM query semantics (score of the
        final token only, no <s>/</s> — the reference queries with -n)."""
        if (word,) not in self.ngrams[1]:
            word = UNK
        context = context[-(self.order - 1):] if self.order > 1 else ()
        backoff = 0.0
        while True:
            key = context + (word,)
            hit = self.ngrams[len(key)].get(key)
            if hit is not None:
                return backoff + hit[0]
            if not context:
                # <unk> is always present at the unigram level
                return backoff + self.ngrams[1][(UNK,)][0]
            bo = self.ngrams[len(context)].get(context)
            backoff += bo[1] if bo is not None else 0.0
            context = context[1:]

    # -- training ------------------------------------------------------------
    @classmethod
    def train(cls, blocks: list[list[str]], order: int = DEFAULT_ORDER) -> "NgramModel":
        """Witten-Bell interpolated estimation, emitted in backoff (ARPA)
        form. Deterministic, pure Python — the stand-in for the
        reference's ``lmplz --order 5`` call (sentence-join.py:63-66).

        ``blocks`` are independent token sequences (no cross-block
        n-grams), matching the 100-word block cut of the training prep.
        """
        counts: list[dict[tuple[str, ...], int]] = [defaultdict(int) for _ in range(order + 1)]
        succ: list[dict[tuple[str, ...], set]] = [defaultdict(set) for _ in range(order)]
        total = 0
        for block in blocks:
            total += len(block)
            for i, w in enumerate(block):
                counts[1][(w,)] += 1
                for n in range(2, order + 1):
                    if i - n + 1 < 0:
                        break
                    gram = tuple(block[i - n + 1: i + 1])
                    counts[n][gram] += 1
                    succ[n - 1][gram[:-1]].add(w)
        for (w,) in counts[1]:
            succ[0][()].add(w)

        model = cls(order)
        # interpolated WB probabilities, lowest order first
        probs: list[dict[tuple[str, ...], float]] = [{} for _ in range(order + 1)]
        d0 = len(succ[0][()])
        denom0 = total + d0
        probs[1][(UNK,)] = d0 / denom0 / max(d0, 1)  # unseen mass spread
        for (w,), c in counts[1].items():
            probs[1][(w,)] = c / denom0
        for n in range(2, order + 1):
            for gram, c in counts[n].items():
                h = gram[:-1]
                ch = counts[n - 1][h] if n > 1 else total
                dh = len(succ[n - 1][h])
                lower = probs[n - 1].get(gram[1:], probs[1][(UNK,)])
                probs[n][gram] = (c + dh * lower) / (ch + dh)

        # backoff weights: bow(h) = unseen mass at h / unseen mass at h'
        for n in range(1, order + 1):
            for gram, p in probs[n].items():
                model.ngrams[n][gram] = (math.log10(p), 0.0)
        for n in range(1, order):
            for h, words in (succ[n].items() if n > 0 else []):
                if h not in model.ngrams[n]:
                    continue
                seen = sum(probs[n + 1][h + (w,)] for w in words)
                seen_lower = sum(
                    probs[n].get(h[1:] + (w,), probs[1].get((w,), probs[1][(UNK,)]))
                    if n > 1 else probs[1].get((w,), probs[1][(UNK,)])
                    for w in words
                )
                num = max(1.0 - seen, 1e-12)
                den = max(1.0 - seen_lower, 1e-12)
                lp = model.ngrams[n][h][0]
                model.ngrams[n][h] = (lp, math.log10(num / den))
        return model

    # -- ARPA interop --------------------------------------------------------
    @classmethod
    def from_arpa(cls, lines) -> "NgramModel":
        r"""Load a standard ARPA file (the format ``lmplz`` writes before
        ``build_binary``): \data\ header, per-order ``\N-grams:``
        sections of ``logprob<TAB>w1 w2 ...<TAB>backoff``."""
        if isinstance(lines, str):
            with open(lines, encoding="utf-8") as fh:
                lines = fh.read().splitlines()
        order = 0
        section = 0
        model = None
        for raw in lines:
            line = raw.strip()
            if not line or line.startswith("\\data\\") or line == "\\end\\":
                continue
            if line.startswith("ngram "):
                order = max(order, int(line.split()[1].split("=")[0]))
                continue
            if line.endswith("-grams:"):
                if model is None:
                    model = cls(order)
                section = int(line.strip("\\").split("-")[0])
                continue
            if model is None or section == 0:
                continue
            parts = line.split("\t")
            lp = float(parts[0])
            words = tuple(parts[1].split(" "))
            bo = float(parts[2]) if len(parts) > 2 else 0.0
            model.ngrams[section][words] = (lp, bo)
        if model is None:
            raise ValueError("not an ARPA file")
        if (UNK,) not in model.ngrams[1]:
            model.ngrams[1][(UNK,)] = (-7.0, 0.0)
        return model

    def to_arpa(self) -> str:
        out = ["\\data\\"]
        for n in range(1, self.order + 1):
            out.append(f"ngram {n}={len(self.ngrams[n])}")
        for n in range(1, self.order + 1):
            out.append(f"\n\\{n}-grams:")
            for gram in sorted(self.ngrams[n]):
                lp, bo = self.ngrams[n][gram]
                row = f"{lp:.7f}\t{' '.join(gram)}"
                if n < self.order and bo != 0.0:
                    row += f"\t{bo:.7f}"
                out.append(row)
        out.append("\n\\end\\\n")
        return "\n".join(out)


def corpus_blocks(lines, reverse: bool = False) -> list[list[str]]:
    """Training prep (sentence-join.py:43-60): append ``___BREAK___``
    after each line's words, cut the stream into 100-word blocks,
    reverse each block for the backward model."""
    buf: list[str] = []
    blocks: list[list[str]] = []
    for line in lines:
        buf.extend(line.split())
        buf.append(BREAK)
        while len(buf) > _TRAIN_BLOCK:
            block = buf[:_TRAIN_BLOCK]
            blocks.append(list(reversed(block)) if reverse else block)
            buf = buf[_TRAIN_BLOCK:]
    if buf:
        blocks.append(list(reversed(buf)) if reverse else buf)
    return blocks


class SentenceJoinScorer:
    """Forward + backward model pair with a join threshold — the
    in-process equivalent of one per-language sentence-join worker
    (SentenceJoin.java:76-152). Picklable: broadcast once per job."""

    def __init__(self, forward: NgramModel, backward: NgramModel,
                 threshold: float = DEFAULT_THRESHOLD):
        self.forward = forward
        self.backward = backward
        self.threshold = threshold

    @classmethod
    def train(cls, lines, order: int = DEFAULT_ORDER,
              threshold: float = DEFAULT_THRESHOLD) -> "SentenceJoinScorer":
        lines = list(lines)
        return cls(
            NgramModel.train(corpus_blocks(lines), order),
            NgramModel.train(corpus_blocks(lines, reverse=True), order),
            threshold,
        )

    @classmethod
    def from_arpa(cls, prefix: str,
                  threshold: float | None = None) -> "SentenceJoinScorer":
        """Load ``{prefix}.forward.lm`` / ``{prefix}.backward.lm`` (the
        ARPA files the reference's training step writes,
        sentence-join.py:66). An explicit ``threshold`` wins; ``None``
        reads the optional ``{prefix}.threshold`` (format ``score
        threshold``, sentence-join.py:245-248), else DEFAULT_THRESHOLD."""
        import os

        thr = DEFAULT_THRESHOLD if threshold is None else threshold
        tpath = prefix + ".threshold"
        if threshold is None and os.path.exists(tpath):
            with open(tpath, encoding="utf-8") as fh:
                thr = float(fh.readline().rstrip().split(" ")[1])
        return cls(
            NgramModel.from_arpa(prefix + ".forward.lm"),
            NgramModel.from_arpa(prefix + ".backward.lm"),
            thr,
        )

    def save_arpa(self, prefix: str) -> None:
        with open(prefix + ".forward.lm", "w", encoding="utf-8") as fh:
            fh.write(self.forward.to_arpa())
        with open(prefix + ".backward.lm", "w", encoding="utf-8") as fh:
            fh.write(self.backward.to_arpa())

    # -- decision ------------------------------------------------------------
    def score(self, left_text: str, right_text: str) -> float:
        """sentence-join.py runtime_scoring:166-189 verbatim semantics."""
        left_words = left_text.split()
        right_words = right_text.split()
        left_ctx: list[str] = []
        right_ctx: list[str] = []
        for j in range(4):
            left_ctx.insert(0, left_words[-j - 1] if j < len(left_words) else DUMMY)
            right_ctx.insert(0, right_words[j] if j < len(right_words) else DUMMY)
        lc, rc = tuple(left_ctx), tuple(right_ctx)
        score = (self.forward.logprob(lc, BREAK)
                 - self.forward.logprob(lc, right_words[0]))
        score += (self.backward.logprob(rc, BREAK)
                  - self.backward.logprob(rc, left_words[-1]))
        return score

    def should_join(self, left_text: str, right_text: str) -> bool:
        """``score < threshold`` → join (sentence-join.py:194)."""
        if not left_text.split() or not right_text.split():
            return False
        return self.score(left_text, right_text) < self.threshold

    def should_join_texts(self, left_full: str, right_full: str) -> bool:
        """The Java wrapper's gate (PDFExtract.java:1762-1776): trim both
        sides to ≤6-word contexts, skip when the left ends ``.`` or the
        right starts ``•``, then delegate to the model decision."""
        text1 = last_words(left_full)
        text2 = first_words(right_full)
        if not text1 or not text2:
            return False
        if text1.endswith(".") or text2.startswith("•"):
            return False
        return self.should_join(text1, text2)


def tune_threshold(scorer: SentenceJoinScorer, dev_lines) -> tuple[float, float]:
    """Tune the join threshold on a sentence-split dev corpus — the
    reference's --tune mode (sentence-join.py:107-163): every position in
    the token stream becomes a test instance (label: is this a line
    break?), the threshold maximizing F-measure is found by a 0..14 grid
    then 9 rounds of binary refinement. Returns (threshold, f_measure)."""
    words: list[str] = []
    for line in dev_lines:
        words.extend(line.split())
        words.append(BREAK)

    instances: list[tuple[float, bool]] = []
    for i in range(4, len(words) - 4):
        left_ctx = tuple(words[i - 4:i])
        right_ctx = tuple(words[i + 1:i + 5][::-1])
        if words[i] == BREAK:
            left_no_break = words[i + 1]
            right_no_break = words[i - 1]
        else:
            left_no_break = right_no_break = words[i]
        score = (scorer.forward.logprob(left_ctx, BREAK)
                 - scorer.forward.logprob(left_ctx, left_no_break))
        score += (scorer.backward.logprob(right_ctx, BREAK)
                  - scorer.backward.logprob(right_ctx, right_no_break))
        instances.append((score, words[i] == BREAK))

    def f_measure(threshold: float) -> float:
        tp = fp = fn = 0
        for score, is_break in instances:
            pred = score > threshold  # high score → predict break
            if pred and is_break:
                tp += 1
            elif pred and not is_break:
                fp += 1
            elif not pred and is_break:
                fn += 1
        precision = tp / (tp + fp + 0.01)
        recall = tp / (tp + fn + 0.01)
        return 2 * precision * recall / (precision + recall + 0.01)

    best_t, best_f = 0.0, 0.0
    for t in range(15):
        f = f_measure(float(t))
        if f > best_f:
            best_f, best_t = f, float(t)
    for i in range(1, 10):
        for cand in (best_t + 1 / 2**i, best_t - 1 / 2**i):
            f = f_measure(cand)
            if f > best_f:
                best_f, best_t = f, cand
    return best_t, best_f


def first_words(s: str, max_words: int = MAX_WORDS_JOIN) -> str:
    """First ≤(max_words+1) words — PDFExtract.java:1671-1682 getFirstWords
    (the loop bound is inclusive, so 6 words at the default 5)."""
    return " ".join(s.split(" ")[: max_words + 1]).strip()


def last_words(s: str, max_words: int = MAX_WORDS_JOIN) -> str:
    """Last ≤(max_words+1) words — PDFExtract.java:1687-1699 getLastWords."""
    words = s.strip().split(" ")
    return " ".join(words[-(max_words + 1):]).strip()
