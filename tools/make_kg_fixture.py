"""Materialize the single-node KG-pipeline oracle as a parquet fixture
(tests/fixtures/kg_oracle_statements.parquet) so the driver's DuckDB
can oracle-check `kg_pipeline_statements` / `kg_roundtrip_reimport`
end-to-end via read_parquet(), turning the two formerly rows-only
CORRECTNESS entries into full rows+schema+hash checks.

Deterministic: pure function of (N_DOCS, SEED) — matching the
queries.py entries exactly. Re-run after any change to synth/extract/
link/thick semantics:  python tools/make_kg_fixture.py
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ldtab_clj_spark.plans.single_node import (  # noqa: E402
    single_node_statements)
from ldtab_clj_spark.schemas import STATEMENT_COLS  # noqa: E402

N_DOCS = 300
SEED = 42
FIXDIR = Path(__file__).resolve().parent.parent / "tests" / "fixtures"
OUT = FIXDIR / "kg_oracle_statements.parquet"
OUT_MEDIA = FIXDIR / "kg_oracle_statements_media.parquet"


def write_fixture(rows: list[dict], out: Path) -> None:
    schema = pa.schema([
        ("assertion", pa.int64()), ("retraction", pa.int64()),
        ("graph", pa.string()), ("subject", pa.string()),
        ("predicate", pa.string()), ("object", pa.string()),
        ("datatype", pa.string()), ("annotation", pa.string()),
    ])
    cols = {c: [r.get(c) for r in rows] for c in STATEMENT_COLS}
    table = pa.Table.from_pydict(cols, schema=schema)
    out.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, out)
    print(f"wrote {table.num_rows} rows to {out}")


def main() -> None:
    write_fixture(single_node_statements(N_DOCS, SEED), OUT)
    write_fixture(single_node_statements(N_DOCS, SEED,
                                         include_media=True), OUT_MEDIA)


if __name__ == "__main__":
    main()
