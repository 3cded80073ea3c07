"""Benchmark inputs: the seed-42 test corpus at sf0.01 and a 10x replica.

``corpus/sf0.01`` holds the ten parquet tables of the seed-42 corpus
(FIXTURES.md, TESTDATA.md) byte for byte, so the benchmark needs
nothing outside its own checkout; ``corpus/sf0.01.sha256`` lists their
digests and every use checks them.

The relational fixture ``sf0.01x10`` is the 10x key-offset replica that
``tools/make_scale_fixture.py`` builds from the corpus. Its tables are
then rewritten with row groups of at most 1/10 of pyarrow's default
(1,048,576 rows), so lineitem (600,000 rows) has 6 row groups and
orders (150,000) has 2: the layout the same tool gives the 10x replica
of sf0.1, at a tenth of its rows. Scans of it can split across cores.

``ensure()`` builds a fixture once into the benchmark's cache, reuses it,
and checks the lineitem/orders row and row-group counts before use.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil

import pyarrow.parquet as pq
from fact_hive_custom_spark.tables import TABLES

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "corpus", "sf0.01")
ROW_GROUP_ROWS = -(-1_048_576 // 10)

# name -> (replicas of the corpus, {table: (rows, row groups)} checked before use)
FIXTURES = {
    "sf0.01": (1, {"lineitem": (60_000, 1), "orders": (15_000, 1)}),
    "sf0.01x10": (10, {"lineitem": (600_000, 6), "orders": (150_000, 2)}),
}


def check_corpus() -> None:
    with open(f"{CORPUS}.sha256") as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(CORPUS, name), "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != digest:
                    raise RuntimeError(f"corpus file {name} differs from {CORPUS}.sha256")


def _replicate(repo_root: str, out_dir: str, replicas: int) -> None:
    """Key-offset replica of the corpus via tools/make_scale_fixture.py,
    then every table rewritten with ROW_GROUP_ROWS-row groups."""
    path = os.path.join(repo_root, "tools", "make_scale_fixture.py")
    spec = importlib.util.spec_from_file_location("make_scale_fixture", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    tool.SRC = CORPUS  # the tool reads its source dir from this module global
    os.makedirs(out_dir, exist_ok=True)
    bases = tool._domain_bases()
    for name in TABLES:
        tool.replicate_table(name, out_dir, replicas, bases)
        dst = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pq.read_table(dst), dst, row_group_size=ROW_GROUP_ROWS)


def layout(sf_dir: str, tables) -> dict[str, tuple[int, int]]:
    """{table: (rows, row groups)} read from the parquet footers."""
    out = {}
    for name in tables:
        md = pq.read_metadata(os.path.join(sf_dir, f"{name}.parquet"))
        out[name] = (md.num_rows, md.num_row_groups)
    return out


def ensure(cache_dir: str, repo_root: str, name: str) -> str:
    """Return the directory of fixture `name`, building it on first use.

    A replica is built into a temporary sibling and renamed, so an
    interrupted build never leaves a half-written fixture behind. Raises
    if the corpus digests or the lineitem/orders (rows, row groups)
    differ from the expected ones.
    """
    replicas, want = FIXTURES[name]
    check_corpus()
    final = CORPUS
    if replicas > 1:
        final = os.path.join(cache_dir, name)
        if not os.path.isdir(final):
            tmp = f"{final}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            _replicate(repo_root, tmp, replicas)
            os.rename(tmp, final)
    got = layout(final, want)
    if got != want:
        raise RuntimeError(f"fixture {name}: (rows, row groups) {got}, expected {want}")
    return final
