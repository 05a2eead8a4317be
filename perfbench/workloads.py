"""Benchmark workloads and their seeded inputs.

Each workload is a fixed list of registry queries that one closed-loop
client submits one after another, plus the recipe for the tables those
queries read. Inputs come from the committed corpus in ``corpus/`` (a
copy of the generator's sf0.01 tables, one parquet file per table):

- every table's rows are permuted by the seed, keeping one file per
  table and the original parquet types;
- ``graph_search`` additionally plants an id-shifted second copy of
  ``documents`` and ``embeddings`` (the ``scale_probe.scaled``
  construction at 2x), so every document and vector has an exact
  duplicate and candidate-pair volume is well above the natural
  corpus.

The query order inside each pass is also drawn from the seed. Queries
see only the generated directory.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

CORPUS = Path(__file__).resolve().parent / "corpus"

#: Tables in the corpus, as the program's ``sources.TABLES`` names them.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Id stride between planted copies (same stride as ``scale_probe.scaled``).
PLANT_STRIDE = 10_000_000


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    #: table -> id column; the table gets ``plant_copies`` id-shifted copies
    planted: dict[str, str] = field(default_factory=dict)
    plant_copies: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        # The paper's dataflow as one Spark job plus a stream replay:
        # pipeline, sinks, checkpoints and streaming do the work; no graph
        # loop, no top-k, no SQL text.
        Workload(
            name="etl_stream",
            queries=("pipeline_reference_e2e", "x10_stream_tumbling"),
        ),
        # Read-only analytics on a 2x planted corpus: a fixpoint graph
        # loop, dedup, top-k search and a SQL client; no sink, no stream.
        Workload(
            name="graph_search",
            queries=(
                "x05_pagerank",
                "d11_dedup_exact",
                "s12_cosine_topk",
                "sql_surface_pricing",
            ),
            planted={"documents": "doc_id", "embeddings": "vec_id"},
            plant_copies=2,
        ),
    )
}


def pass_order(queries, seed: int, pass_no: int) -> list[str]:
    """The seeded query order of one pass."""
    order = list(queries)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def make_inputs(workload: Workload, seed: int, out_dir: Path) -> dict:
    """Write the workload's tables for ``seed`` into ``out_dir``.

    Returns the input size: rows per table and total bytes written.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    out_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows: dict[str, int] = {}
    for name in TABLES:
        table = pq.read_table(CORPUS / f"{name}.parquet")
        id_col = workload.planted.get(name)
        if id_col is not None and workload.plant_copies > 1:
            copies = []
            for i in range(workload.plant_copies):
                shifted = pc.add(table[id_col], pa.scalar(i * PLANT_STRIDE, table[id_col].type))
                idx = table.schema.get_field_index(id_col)
                copies.append(table.set_column(idx, id_col, shifted))
            table = pa.concat_tables(copies)
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, out_dir / f"{name}.parquet")
        rows[name] = table.num_rows
    total = sum(p.stat().st_size for p in out_dir.glob("*.parquet"))
    return {"rows": rows, "bytes": total}
