"""Measure the documents tables that the input generator imitates.

    python3 perfbench/profile_docs.py DATA_DIR [DATA_DIR ...] > perfbench/docs_profile.json

Each DATA_DIR holds a ``documents.parquet`` of the engine's fixture data
(``doc_id``, ``text``, ...).  The profile records, per directory, the row
count, the vocabulary, the least and most frequent word's share of all
words (the marker word aside), the words per
document, and the planted near-duplicates: documents whose text ends in the
marker word ``dup``, and how many of them are another document's text plus
`` dup``.  ``gen.py`` draws its documents from the profile of the largest
directory profiled.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import pyarrow.parquet as pq


def profile(data_dir: str) -> dict:
    texts = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["text"]).column(0).to_pylist()
    lengths = sorted(len(t.split()) for t in texts)
    words = Counter(w for t in texts for w in t.split())
    total = sum(words.values())
    known = set(texts)
    dups = [t for t in texts if t.endswith(" dup")]
    plain = [n for w, n in words.items() if w != "dup"]
    return {
        "name": os.path.basename(os.path.normpath(data_dir)),
        "docs": len(texts),
        "distinct_texts": len(set(texts)),
        "vocabulary": sorted(words),
        "word_share_min": round(min(plain) / total, 5),
        "word_share_max": round(max(plain) / total, 5),
        "words_per_doc": {
            "min": lengths[0],
            "max": lengths[-1],
            "mean": round(total / len(texts), 3),
            "quartiles": [lengths[len(lengths) * q // 4] for q in (1, 2, 3)],
        },
        "near_duplicates": {
            "marker": "dup",
            "docs": len(dups),
            "share": round(len(dups) / len(texts), 5),
            "copies_of_another_doc": sum(t[: -len(" dup")] in known for t in dups),
        },
    }


if __name__ == "__main__":
    json.dump({"profiles": [profile(d) for d in sys.argv[1:]]}, sys.stdout, indent=1)
    print()
