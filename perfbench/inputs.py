"""Seeded inputs: a deterministic row permutation of each base table.

The base tables under ``data/`` are the repository's sf0.01 test tables. Each
output keeps one parquet file and one row group per table, so scan
parallelism matches the base layout. Outputs land in a directory named after
the seed and a hash of the written bytes: the program caches derived copies
keyed by the input path, so a path is never reused for other content.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def make_inputs(seed: int, dest: Path) -> Path:
    """Write the permuted tables for ``seed`` under ``dest``; return the
    directory to pass to the program as ``sf_dir``."""
    dest.mkdir(parents=True, exist_ok=True)
    staging = dest / f".staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir()
    digest = hashlib.sha256()
    for i, name in enumerate(TABLES):
        table = pq.read_table(DATA / f"{name}.parquet")
        perm = np.random.default_rng([seed, i]).permutation(table.num_rows)
        out = staging / f"{name}.parquet"
        pq.write_table(
            table.take(perm),
            out,
            row_group_size=max(1, table.num_rows),
            compression="snappy",
        )
        digest.update(out.read_bytes())
    final = dest / f"seed{seed}-{digest.hexdigest()[:12]}"
    if final.exists():
        shutil.rmtree(staging)
    else:
        staging.rename(final)
    return final
