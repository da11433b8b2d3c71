from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from unipdf_spark.pipeline import get_spark

    s = get_spark("unipdf-tests", cores=2, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oversized_sf(tmp_path_factory):
    """sf dir whose `documents` table holds nine normal docs (ids 0-8) and
    doc 14, just over PART_CHARS: a multiple of 7, so it and its planted
    clone both take the split → reassemble branch of
    extracted_text_dedup. Doc 14's words glue four of doc 1's words
    together: the DuckDB oracle's shingle step is quadratic in a doc's
    word count (~135 s for plain words at this size, ~30 s for these)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unipdf_spark.operators.extracted import PART_CHARS

    texts = [t for (t,) in duckdb.sql(
        f"SELECT text FROM '{SF_SMOKE}/documents.parquet' "
        "ORDER BY doc_id LIMIT 9").fetchall()]
    w = texts[1].split()
    glued = ["".join(w[i:i + 4]) for i in range(len(w) - 3)]
    words, n = [], -1  # n: length of " ".join(words)
    while n <= PART_CHARS:
        words.append(glued[len(words) % len(glued)])
        n += len(words[-1]) + 1
    mega = " ".join(words)
    assert PART_CHARS < len(mega) < PART_CHARS + 100
    out = tmp_path_factory.mktemp("oversized") / "documents.parquet"
    out.mkdir()
    pq.write_table(pa.table({
        "doc_id": pa.array([*range(9), 14], pa.int64()),
        "text": [*texts, mega],
    }), out / "part-0.parquet")
    return str(out.parent)
