"""Seeded input generators.  The same seed gives byte-identical inputs;
the library under test sees only what these functions return."""

from __future__ import annotations

import numpy as np
import pandas as pd

from confidential_storm_spark.dp.zipf import generate_benchmark_contributions

# The test data's ``documents`` corpus (5 000 documents at sf0.1, 270 704
# words) is these 30 words, each at 1/30 of the words to within 2.1 %,
# plus a marker word ``dup`` (0.09 %) on near-duplicate documents; a
# document's length is uniform over 10..99 words (mean 54.1).  The
# generator draws from that fit; DESIGN.md records the measurement.
CORPUS_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DOC_LEN_MIN, DOC_LEN_MAX = 10, 99


def wordcount_documents(seed: int, n_docs: int, n_users: int, n_epochs: int) -> pd.DataFrame:
    """Documents ``(doc_id, user_id, epoch, seq, text)`` shaped like the
    test data's ``documents`` corpus, assigned to ``n_users`` users by a
    uniform seeded draw, each in one of ``n_epochs`` epoch files in
    round-robin order."""
    rng = np.random.default_rng((seed, 1))
    vocab = np.array(CORPUS_VOCAB, dtype=object)
    lengths = rng.integers(DOC_LEN_MIN, DOC_LEN_MAX + 1, size=n_docs)
    words = vocab[rng.integers(0, len(vocab), size=int(lengths.sum()))]
    texts = [" ".join(chunk) for chunk in np.split(words, np.cumsum(lengths)[:-1])]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "user_id": rng.integers(0, n_users, size=n_docs, dtype=np.int64),
            "epoch": np.arange(n_docs, dtype=np.int64) % n_epochs,
            "seq": np.arange(n_docs, dtype=np.int64),
            "text": texts,
        }
    )


def dp_contributions(seed: int, n_users: int, n_keys: int, c: int, t: int) -> pd.DataFrame:
    """The DP-SQLP §5.1 generator, one row per contribution, with the
    ``(event_time, seq)`` arrival order the bounding stage sorts by."""
    users, keys, epochs = generate_benchmark_contributions(n_users, n_keys, c, t, seed=seed)
    return pd.DataFrame(
        {
            "user_id": users,
            "key": np.char.add("k", keys.astype(str)).astype(object),
            "epoch": epochs,
            "value": np.ones(len(users)),
            "event_time": epochs,
            "seq": np.arange(len(users), dtype=np.int64),
        }
    )
