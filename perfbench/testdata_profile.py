"""Print the generated inputs beside a directory of the synthetic testdata.

    python3 perfbench/testdata_profile.py TESTDATA_SF_DIR --sf 0.1 [--seed 1] [table ...]

``TESTDATA_SF_DIR`` is one scale factor's directory of the repository's
testdata (TESTDATA.md), and ``--sf`` its scale factor. For each table
(default: every table the generator knows that the directory holds) it
prints the row count and, per column, the distinct count, range or
example values and the shares of the most common values, first for the
testdata, then for the tables ``inputs.generate`` writes for that sf
and seed. For ``documents`` it adds the corpus figures the curation's
dedup work depends on: vocabulary, words per document, near-duplicate
and exact-copy shares.
"""

from __future__ import annotations

import argparse
import collections
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
if os.path.dirname(HERE) not in sys.path:
    sys.path.insert(0, os.path.dirname(HERE))

import pyarrow.parquet as pq  # noqa: E402

from perfbench.inputs import ROWS_PER_SF, generate  # noqa: E402

TABLES = ("region", "nation") + tuple(ROWS_PER_SF)


def column_profile(series) -> str:
    out = f"distinct={series.nunique()}"
    if series.dtype.kind in "iufM":
        out += f" min={series.min()} max={series.max()}"
        if series.dtype.kind in "iuf":
            out += f" mean={series.mean():.4g}"
    if series.nunique() <= 64:
        top = series.value_counts(normalize=True).head(5)
        out += " top=" + ", ".join(f"{k}:{v:.3f}" for k, v in top.items())
    return out


def corpus_profile(texts) -> dict[str, object]:
    words = [t.split() for t in texts]
    lengths = [len(w) for w in words]
    vocab = collections.Counter(w for ws in words for w in ws)
    counts = collections.Counter(texts)
    return {
        "vocabulary": len(vocab),
        "word_share_min_max": (
            round(min(vocab.values()) / sum(vocab.values()), 4),
            round(max(vocab.values()) / sum(vocab.values()), 4),
        ),
        "words_per_doc_min_mean_max": (min(lengths), round(sum(lengths) / len(lengths), 2), max(lengths)),
        "near_dup_share": round(sum(t.endswith(" dup") for t in texts) / len(texts), 4),
        "exact_copy_share": round(sum(k - 1 for k in counts.values()) / len(texts), 4),
    }


def table_profile(path: str) -> list[str]:
    frame = pq.read_table(path).to_pandas()
    lines = [f"rows={len(frame)}"]
    for col in frame.columns:
        if col == "text":
            lines.extend(f"  text.{k}: {v}" for k, v in corpus_profile(list(frame[col])).items())
        else:
            lines.append(f"  {col}: {column_profile(frame[col])}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("testdata_dir")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("tables", nargs="*")
    args = ap.parse_intermixed_args(argv)

    tables = tuple(args.tables) or tuple(
        t for t in TABLES if os.path.exists(os.path.join(args.testdata_dir, f"{t}.parquet"))
    )
    out = os.path.join(HERE, ".work", f"profile-{os.getpid()}")
    try:
        generate(out, args.sf, args.seed, tables)
        for name in tables:
            print(f"== {name}")
            for tag, directory in (("testdata", args.testdata_dir), ("generated", out)):
                print(f" {tag}:")
                for line in table_profile(os.path.join(directory, f"{name}.parquet")):
                    print(f"  {line}")
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
