from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from nginx_log_spark.session import get_spark

    s = get_spark(app="nginx_log_spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def open_vocab_docs(spark):
    """40 docs of 300 seeded random letters (a vocabulary of ~11.9k 5-letter
    shingles, above prefix_jaccard_pairs' in-row bound of 2^13) plus, for 8
    of them, an identical clone and a clone whose last 10..80 letters are
    redrawn: pairs at Jaccard 1 and at ~0.91 down to ~0.57."""
    import random

    rng = random.Random(5)
    letters = "abcdefghijklmnopqrstuvwxyz"

    def draw(n: int) -> str:
        return "".join(rng.choice(letters) for _ in range(n))

    rows = [(i, draw(300)) for i in range(40)]
    for j in range(8):
        base = rows[j][1]
        rows.append((100 + j, base))
        rows.append((200 + j, base[: -10 * (j + 1)] + draw(10 * (j + 1))))
    return spark.createDataFrame(rows, "doc_id long, text string")
