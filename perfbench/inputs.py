"""Seeded benchmark inputs and their DuckDB oracle answers.

The bundled ``base/`` tables are the engine's synthetic star schema at
sf0.01. A seed re-lays them out: every table keeps its rows, permuted by
the seed, written as one file per table. The seed also cuts the events
state log into contiguous time slices that the streamed SCD2 upsert
replays as micro-batches. Layouts and oracle answers are cached per seed
under the benchmark's data directory; the engine only ever reads that
directory.

Run as a script, it prepares one seed and writes the pickled
``(data_dir, oracle answers)`` to stdout. The benchmark runs it as a child
process, so that neither the layout work nor DuckDB's memory shows in the
driver's timings or peak RSS. The repository root must be on PYTHONPATH:

    PYTHONPATH=. python3 perfbench/inputs.py <seed> <data_root> <op>...
"""

from __future__ import annotations

import hashlib
import os
import pickle
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from etlutil_spark.sources.testdata import TABLES

BASE_DIR = Path(__file__).resolve().parent / "base"
CHANGES = "events_changes"
N_BATCHES = 6


def layout(seed: int, data_root: Path) -> Path:
    """Write (or reuse) the seed's re-layout and return its directory."""
    out = data_root / f"seed-{seed}"
    if (out / "_DONE").exists():
        return out
    data_root.mkdir(parents=True, exist_ok=True)
    tmp = data_root / f".seed-{seed}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    rng = np.random.default_rng(seed)
    for name in TABLES:
        table = pq.read_table(BASE_DIR / f"{name}.parquet")
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, tmp / f"{name}.parquet")
        if name == "events":
            _write_changes(table, rng, tmp / CHANGES)
    (tmp / "_DONE").touch()
    try:
        tmp.rename(out)
    except OSError:  # another run published the same seed first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _write_changes(events: pa.Table, rng: np.random.Generator, out: Path) -> None:
    """Per-user state log (user_id, ts, event_type), unique on (user_id, ts)
    as the SCD2 operators require, cut into N_BATCHES contiguous time
    slices at seeded boundaries. File mtimes increase with slice order so
    the file stream source replays the slices in event-time order."""
    df = events.select(["user_id", "ts", "event_type"]).to_pandas()
    df = df.drop_duplicates(["user_id", "ts"], keep="first")
    log = pa.Table.from_pandas(df, preserve_index=False)
    log = log.set_column(
        1, "ts", pc.cast(log["ts"], pa.timestamp("us", tz="UTC"))
    )
    ts = np.unique(log["ts"].to_numpy())
    fracs = (np.arange(1, N_BATCHES) + rng.uniform(-0.35, 0.35, N_BATCHES - 1)) / N_BATCHES
    cuts = [None, *(ts[int(f * len(ts))] for f in fracs), None]
    out.mkdir()
    col = log["ts"].to_numpy()
    base_mtime = 1_700_000_000
    for i in range(N_BATCHES):
        keep = np.ones(len(col), dtype=bool)
        if cuts[i] is not None:
            keep &= col > cuts[i]
        if cuts[i + 1] is not None:
            keep &= col <= cuts[i + 1]
        path = out / f"part-{i:02d}.parquet"
        pq.write_table(log.filter(pa.array(keep)), path)
        os.utime(path, (base_mtime + i, base_mtime + i))


def oracle_answers(data_dir: Path, ops: list[str]) -> dict[str, tuple]:
    """{op: (columns, rows)} from each op's DuckDB oracle on data_dir. An
    answer is cached beside the layout, keyed by the oracle's SQL text, so
    a changed oracle is always recomputed."""
    from etlutil_spark import queries as Q
    from tests.helpers import run_oracle

    cache = data_dir / "oracles"
    cache.mkdir(exist_ok=True)
    answers = {}
    for op in ops:
        sql = Q.ORACLES[op]
        path = cache / f"{op}-{hashlib.sha1(sql.encode()).hexdigest()[:16]}.pkl"
        if path.exists():
            answers[op] = pickle.loads(path.read_bytes())
            continue
        answers[op] = run_oracle(sql, str(data_dir))
        tmp = path.with_name(f".{path.name}.{os.getpid()}")
        tmp.write_bytes(pickle.dumps(answers[op]))
        tmp.replace(path)
    return answers


def prepare(seed: int, data_root: str, ops: list[str]) -> tuple[str, dict]:
    data_dir = layout(seed, Path(data_root))
    return str(data_dir), oracle_answers(data_dir, ops)


def row_counts() -> dict[str, int]:
    return {t: pq.ParquetFile(BASE_DIR / f"{t}.parquet").metadata.num_rows for t in TABLES}


if __name__ == "__main__":
    seed, data_root, *ops = sys.argv[1:]
    sys.stdout.buffer.write(pickle.dumps(prepare(int(seed), data_root, ops)))
