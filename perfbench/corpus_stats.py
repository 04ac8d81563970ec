"""Statistics of a `documents`/`embeddings` table pair, as the curate_full
workload reports them for its generated corpus (the `corpus_stats`
diagnostic in its artifact), so the two can be compared.

    python3 perfbench/corpus_stats.py DIR

DIR holds documents.parquet and embeddings.parquet (the layout of the
sf* test data). Prints one JSON object. Needs pyarrow.
"""

import json
import math
import os
import sys

import pyarrow.parquet as pq


def stats(d):
    docs = pq.read_table(os.path.join(d, "documents.parquet"),
                         columns=["text", "lang"]).to_pydict()
    vecs = pq.read_table(os.path.join(d, "embeddings.parquet"),
                         columns=["embedding", "label"]).to_pydict()
    texts = docs["text"]
    n = len(texts)
    words = [len(t.split(" ")) for t in texts]
    comps = [x for v in vecs["embedding"] for x in v]
    comp_mean = sum(comps) / len(comps)
    return {
        "docs": n,
        "vocabulary": len({w for t in texts for w in t.split(" ")}),
        "words_min": min(words),
        "words_max": max(words),
        "words_mean": sum(words) / n,
        "chars_mean": sum(len(t) for t in texts) / n,
        "dup_share": sum(t.endswith(" dup") for t in texts) / n,
        "en_share": docs["lang"].count("en") / n,
        "vectors": len(vecs["embedding"]),
        "dim": len(vecs["embedding"][0]),
        "norm_mean": sum(math.sqrt(sum(x * x for x in v))
                         for v in vecs["embedding"]) / len(vecs["embedding"]),
        "component_sd": math.sqrt(sum((x - comp_mean) ** 2 for x in comps)
                                  / len(comps)),
        "labels": len(set(vecs["label"])),
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(json.dumps(stats(sys.argv[1])))
