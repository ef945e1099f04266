"""Bench family of every registered query, by name prefix.

The table is explicit and has no catch-all: a benched query whose name
matches no row makes the run fail, so a new query family is added here
before its time can land in some other family's subtotal.
"""
import re

FAMILIES = [
    (r"q[0-9]", "relational"),
    (r"candlestick_|sliding_|tick_", "windows"),
    (r"dedup_|decontaminate_", "dedup"),
    (r"sim_|emb_", "similarity"),
    (r"text_|vocab_|chunk_|sample_|tokenize_|doc_", "text"),
    (r"mm_", "multimodal"),
    (r"ts_", "timeseries"),
    (r"sketch_", "sketches"),
    (r"pack_|mix_|split_|shuffle_", "packing"),
    (r"io_", "storage"),
    (r"graph_", "graphs"),
    (r"gov_", "governance"),
    (r"mine_", "mining"),
    (r"dim_", "dimensions"),
    (r"er_", "entity_resolution"),
]

NAMES = sorted({f for _, f in FAMILIES})


def family(name):
    for pattern, fam in FAMILIES:
        if re.match(pattern, name):
            return fam
    raise KeyError(f"query {name!r} has no row in the benchmark's family table")
