"""Train / tune / apply the W4 sentence-join model — the reference's
sentence-join.py CLI surface without KenLM or subprocesses.

    python scripts/train_sentencejoin.py --train --model M --text corpus.txt
    python scripts/train_sentencejoin.py --tune  --model M --dev dev.txt
    python scripts/train_sentencejoin.py --apply --model M [--threshold T] < pairs.tsv

--train writes {M}.forward.lm / {M}.backward.lm (standard ARPA; also
loadable by KenLM tooling). --tune writes {M}.threshold. --apply reads
tab-separated line pairs on stdin and prints True/False per pair,
byte-compatible with the reference worker protocol
(SentenceJoin.java:106-109 drives exactly this). The extraction job
loads the model a config names per language (``sentencejoin_model``:
the prefix M, with its .threshold when --tune wrote one). The
reference's kenlm ``build_binary`` step (sentence-join.py:64-70) has no
counterpart: kenlm's .binlm files are not readable without kenlm, so
they are regenerated from their source ARPA files (or by --train)."""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_extract_spark.functions.sentencejoin import (  # noqa: E402
    SentenceJoinScorer,
    tune_threshold,
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--train", action="store_true")
    ap.add_argument("--tune", action="store_true")
    ap.add_argument("--apply", action="store_true")
    ap.add_argument("--model", required=True, help="model prefix")
    ap.add_argument("--text", help="training corpus (one line per sentence)")
    ap.add_argument("--dev", help="tuning corpus")
    ap.add_argument("--order", type=int, default=5)
    ap.add_argument("--threshold", type=float, default=None)
    args = ap.parse_args(argv)

    if args.train:
        if not args.text:
            ap.error("--train requires --text")
        with open(args.text, encoding="utf-8") as fh:
            scorer = SentenceJoinScorer.train(
                (ln.rstrip("\n") for ln in fh), order=args.order)
        scorer.save_arpa(args.model)
        print(f"wrote {args.model}.forward.lm / {args.model}.backward.lm")

    if args.tune:
        if not args.dev:
            ap.error("--tune requires --dev")
        scorer = SentenceJoinScorer.from_arpa(args.model)
        with open(args.dev, encoding="utf-8") as fh:
            t, f = tune_threshold(scorer, (ln.rstrip("\n") for ln in fh))
        with open(args.model + ".threshold", "w", encoding="utf-8") as fh:
            fh.write(f"{f} {t}\n")
        print(f"{f} {t}")

    if args.apply:
        scorer = SentenceJoinScorer.from_arpa(args.model, args.threshold)
        for line in sys.stdin:
            try:
                left, right = line.rstrip("\n").split("\t")
            except ValueError:
                print("Invalid input")
                sys.stdout.flush()
                continue
            print(scorer.should_join(left, right))
            sys.stdout.flush()

    if not (args.train or args.tune or args.apply):
        ap.error("pick one of --train/--tune/--apply")
    return 0


if __name__ == "__main__":
    sys.exit(main())
