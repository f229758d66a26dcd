"""Recompute the checked-in expected results (``perfbench/expected/``).

    python3 perfbench/refresh_expected.py

Only results whose DuckDB oracle is too slow to run inside a benchmark run
are checked in: ``q_ingest_full`` over the base ``documents`` table (the
``llm_data`` seed reorders its rows but keeps its content, so one result
serves every seed).  Run this after changing the documents generator.
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import common, expected, inputs  # noqa: E402


def main() -> int:
    common.prepare_env()
    docs = inputs.base_documents()
    with tempfile.TemporaryDirectory(dir=common.WORK) as d:
        path = inputs.write_table(docs, d, "documents")
        res = expected.expected(
            "q_ingest_full",
            inputs.content_digest(docs, "doc_id"),
            {"documents": path},
            str(common.WORK),
            store_dir=expected.CHECKED_IN,
        )
    print(res)
    return 0


if __name__ == "__main__":
    sys.exit(main())
