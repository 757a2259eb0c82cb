"""Seeded workload generators and the oracle they carry.

Every workload is a pure function of ``(name, seed, scale)``.  The benchmark
owns this code, including its own copy of the table-HTML grammar, so an edit
to the package's synthetic source or renderer cannot silently change a
workload: a changed renderer shows up as oracle mismatches instead.

A generated turn is built from parts whose cleaned form is known by
construction, so the oracle needs no call into the program:

* ``tables[(conv_id, turn_idx, table_idx)]`` is the exact table HTML the
  extraction must return, or ``None`` for a hostile fragment that must come
  back as an error row;
* ``main[(conv_id, turn_idx)]`` is the turn's main text after tables,
  boilerplate and tags are stripped.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import Dict, List, Optional, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("flagship_mix", "prose_heavy", "large_grids_hostile")

# turns per workload at scale 1.0; at local[4] one job takes 3-5 s, of
# which ~2.5 s is the lineage write's fixed cost, and a run fits its budget
TARGET_TURNS = {
    "flagship_mix": 6000,
    "prose_heavy": 6000,
    "large_grids_hostile": 240,
}

# at most nproc (4 on the reference box) hostile fragments in a workload.
# Each claims a grid over the kernel's 250k-cell guard, so it must come back
# as an error row; the parser's 4096 span clamp still fills the claimed grid
# first, which is the degrade cost this workload measures
HOSTILE_FRAGMENTS = (
    "<table><tr><td rowspan=999999999 colspan=256>x</td></tr></table>",
    "<table><tr><td rowspan=256 colspan=999999999>x</td></tr></table>",
    '<table><tr><td rowspan="1024" colspan="1024">x</td></tr></table>',
    "<table><tr><th rowspan=999999999 colspan=300>x</th></tr></table>",
)

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu ledger margin quota audit vendor region metric sample "
    "cohort budget figure summary detail total average median growth"
).split()

_ROLES = ("user", "assistant", "tool")
_TOOLS = (None, "search", "python", "browser")
_EPOCH = datetime(2025, 1, 1)

# blocks the strip removes whole (script/style/nav/footer/aside, comments)
_BOILERPLATE = (
    '<nav class="top">home | docs | pricing</nav>',
    "<script>var t = setInterval(tick, 1000);</script>",
    "<style>.cell { border: 1px solid; }</style>",
    "<footer>(c) example corp, all rights reserved</footer>",
    "<!-- tracking pixel -->",
    '<aside id="promo">subscribe now!</aside>',
    "<script>\nfunction f(a, b) {\n  return a < b;\n}\n</script>",
    "<style>\ntd { padding: 4px; }\nth { font-weight: bold; }\n</style>",
)

# inline tags the strip replaces by a space, keeping their text
_INLINE = (
    ("<b>", "</b>"),
    ("<i>", "</i>"),
    ("<code>", "</code>"),
    ('<a href="https://example.org/doc">', "</a>"),
    ("<span class=\"hl\">", "</span>"),
)


@dataclass
class Workload:
    name: str
    seed: int
    columns: Dict[str, list] = field(default_factory=dict)
    tables: Dict[Tuple[str, int, int], Optional[str]] = field(default_factory=dict)
    main: Dict[Tuple[str, int], str] = field(default_factory=dict)
    n_cells: int = 0
    structures: set = field(default_factory=set)

    @property
    def n_turns(self) -> int:
        return len(self.main)

    def shape(self) -> Dict[str, int]:
        """What the workload holds, recorded with every result."""
        return {
            "turns": self.n_turns,
            "tables": len(self.tables),
            "cells": self.n_cells,
            "distinct_structures": len(self.structures),
            "input_bytes": sum(len(t.encode()) for t in self.columns["text"]),
        }

    def write_parquet(self, path: str, n_files: int) -> None:
        """Write the turns as ``n_files`` parquet files of equal turn count.
        With one file per core, Spark reads each file as one split, so the
        tasks hold fixed slices of the input whatever the seed."""
        os.makedirs(path, exist_ok=True)
        schema = pa.schema(
            [
                ("conv_id", pa.string()),
                ("turn_idx", pa.int32()),
                ("role", pa.string()),
                ("text", pa.string()),
                ("tool", pa.string()),
                ("ts", pa.timestamp("us")),
            ]
        )
        table = pa.table(self.columns, schema=schema)
        n = table.num_rows
        for i in range(n_files):
            lo, hi = i * n // n_files, (i + 1) * n // n_files
            pq.write_table(table.slice(lo, hi - lo), f"{path}/part-{i:03d}.parquet")


def render_table(logic: List[List[int]], texts: List[List[str]]) -> str:
    """The table-HTML grammar the extraction emits.

    Only cells with non-empty text set the visible window: rows above the
    first such cell are skipped and columns outside its range are clipped.
    A slot with no cell is ``<td></td>``; a cell renders at its origin slot
    as ``<td rowspan=R colspan=C>`` with ``<br>``-joined lines.
    """
    n_rows = max(lp[1] for lp in logic) + 1
    n_cols = max(lp[3] for lp in logic) + 1
    grid: List[List[Optional[int]]] = [[None] * n_cols for _ in range(n_rows)]
    top, left, right = n_rows, n_cols, 0
    for i, (r0, r1, c0, c1) in enumerate(logic):
        if "".join(texts[i]):
            top, left, right = min(top, r0), min(left, c0), max(right, c1)
        for r in range(r0, r1 + 1):
            for c in range(c0, c1 + 1):
                grid[r][c] = i
    out = ["<html><body><table>"]
    for r in range(top, n_rows):
        out.append("<tr>")
        for c in range(left, right + 1):
            i = grid[r][c]
            if i is None:
                out.append("<td></td>")
                continue
            r0, r1, c0, c1 = logic[i]
            if (r, c) == (r0, c0):
                out.append(
                    f"<td rowspan={r1 - r0 + 1} colspan={c1 - c0 + 1}>"
                    + "<br>".join(texts[i])
                    + "</td>"
                )
        out.append("</tr>")
    out.append("</table></body></html>")
    return "".join(out)


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(_WORDS, k=n))


def _grid_fixture(
    rng: random.Random, rows: Tuple[int, int], cols: Tuple[int, int], max_span: int
):
    """A random fully covered logical grid with ~20% spanning cells.

    Greedy row-major fill, so spans never overlap.  At most one 1x1 cell is
    left textless: a textless spanning cell would render ambiguously.
    """
    n_rows, n_cols = rng.randint(*rows), rng.randint(*cols)
    taken = [[False] * n_cols for _ in range(n_rows)]
    logic: List[List[int]] = []
    texts: List[List[str]] = []
    for r in range(n_rows):
        c = 0
        while c < n_cols:
            if taken[r][c]:
                c += 1
                continue
            free = 1
            while c + free < n_cols and not taken[r][c + free]:
                free += 1
            cspan = rng.randint(1, min(max_span, free)) if rng.random() < 0.2 else 1
            rspan = rng.randint(1, min(max_span, n_rows - r)) if rng.random() < 0.2 else 1
            for rr in range(r, r + rspan):
                for cc in range(c, c + cspan):
                    taken[rr][cc] = True
            logic.append([r, r + rspan - 1, c, c + cspan - 1])
            n_lines = rspan * cspan if rng.random() < 0.3 else 1
            texts.append([_words(rng, rng.randint(1, 3)) for _ in range(n_lines)])
            c += cspan
    if rng.random() < 0.3:
        unit = [i for i, (r0, r1, c0, c1) in enumerate(logic) if r0 == r1 and c0 == c1]
        if unit:
            texts[rng.choice(unit)] = [""]
    return logic, texts


class _Builder:
    """Accumulates turns, their oracle entries and the shape counters."""

    def __init__(self, name: str, seed: int):
        self.w = Workload(name, seed)
        self.w.columns = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
        self.rng = random.Random(f"{name}:{seed}")

    def table(self, logic, texts) -> str:
        self.w.n_cells += len(logic)
        self.w.structures.add(tuple(map(tuple, logic)))
        return render_table(logic, texts)

    def add_turn(self, conv: int, turn: int, text: str, main: str, tables: List[Optional[str]]):
        conv_id = f"conv-{conv:08d}"
        cols = self.w.columns
        role = _ROLES[turn % 3]
        cols["conv_id"].append(conv_id)
        cols["turn_idx"].append(turn)
        cols["role"].append(role)
        cols["text"].append(text)
        cols["tool"].append(self.rng.choice(_TOOLS) if role == "tool" else None)
        cols["ts"].append(_EPOCH + timedelta(seconds=conv * 7919 + turn * 37))
        self.w.main[(conv_id, turn)] = main
        for ti, html in enumerate(tables):
            self.w.tables[(conv_id, turn, ti)] = html

    def conversations(self, n_turns: int, mean_turns: int = 8):
        """Yield (conv, turn) pairs: Zipfian conversation lengths, about
        ``n_turns`` in total."""
        total, conv = 0, 0
        while total < n_turns:
            z = self.rng.paretovariate(1.5)
            length = max(1, min(int(z * mean_turns / 3), mean_turns * 50, n_turns - total))
            for t in range(length):
                yield conv, t
            total += length
            conv += 1


def _flagship_turn(b: _Builder) -> Tuple[str, str, List[Optional[str]]]:
    """The package's synthetic distribution: short prose, then 0/1/2 small
    tables in the ratio 5:4:1, each after a boilerplate block."""
    rng = b.rng
    prose = [_words(rng, rng.randint(5, 30))]
    parts = [prose[0]]
    tables = []
    for _ in range(rng.choices((0, 1, 2), weights=(5, 4, 1))[0]):
        html = b.table(*_grid_fixture(rng, (1, 5), (1, 5), 2))
        tables.append(html)
        tail = _words(rng, 5)
        prose.append(tail)
        parts += [rng.choice(_BOILERPLATE), html, tail]
    parts.append(rng.choice(_BOILERPLATE))
    return " ".join(parts), " ".join(prose), tables


def _gen_flagship(b: _Builder, n_turns: int) -> None:
    for conv, t in b.conversations(n_turns):
        b.add_turn(conv, t, *_flagship_turn(b))


def _add_hostile(b: _Builder) -> None:
    """Append one hostile fragment to each of len(HOSTILE_FRAGMENTS) turns
    spread evenly over the input, so they land in different tasks."""
    cols = b.w.columns
    n = len(cols["text"])
    for k, frag in enumerate(HOSTILE_FRAGMENTS):
        i = (2 * k + 1) * n // (2 * len(HOSTILE_FRAGMENTS))
        cols["text"][i] += " " + frag
        key = (cols["conv_id"][i], cols["turn_idx"][i])
        n_tables = sum(1 for kk in b.w.tables if kk[:2] == key)
        b.w.tables[key + (n_tables,)] = None


def _gen_prose(b: _Builder, n_turns: int) -> None:
    """Several KB of tagged prose and boilerplate per turn; about 1 turn in
    20 carries one small table on its own line."""
    rng = b.rng
    pool = []  # (raw paragraph, cleaned paragraph)
    for _ in range(2000):
        words = rng.choices(_WORDS, k=rng.randint(40, 90))
        raw = list(words)
        for j in rng.sample(range(len(words)), 4):
            o, c = rng.choice(_INLINE)
            raw[j] = f"{o}{words[j]}{c}"
        pool.append((" ".join(raw), " ".join(words)))
    for conv, t in b.conversations(n_turns):
        paras = rng.choices(pool, k=rng.randint(8, 16))
        lines = [
            raw + " " + rng.choice(_BOILERPLATE) if rng.random() < 0.3 else raw
            for raw, _ in paras
        ]
        tables = []
        if rng.random() < 0.05:
            html = b.table(*_grid_fixture(rng, (1, 5), (1, 5), 2))
            tables.append(html)
            lines.insert(rng.randint(0, len(lines)), html)
        b.add_turn(conv, t, "\n".join(lines), "\n".join(c for _, c in paras), tables)


# grid sizes of large_grids_hostile: 10-40 rows x 4-12 columns in steps, so
# each run of len(_LARGE_DIMS) tables holds every size once
_LARGE_DIMS = [(r, c) for r in range(10, 41, 6) for c in range(4, 13, 2)]


def _gen_large_hostile(b: _Builder, n_turns: int) -> None:
    """1 then 2 large spanning grids per turn, every structure distinct,
    plus the hostile fragments.

    The seed orders the sizes, draws the spans and the text; the sizes
    themselves cycle, so every input file (and task) holds the same mix and
    the job's cost does not swing with the seed.
    """
    rng = b.rng
    dims = list(_LARGE_DIMS)
    rng.shuffle(dims)
    i = 0
    # short conversations: with few of them, how many of the 64 lineage
    # buckets get a file would swing with the seed, and so would output bytes
    for conv, t in b.conversations(n_turns, mean_turns=1):
        prose = [_words(rng, rng.randint(5, 20))]
        parts = [prose[0]]
        tables = []
        for _ in range(1 + len(b.w.main) % 2):
            n_rows, n_cols = dims[i % len(dims)]
            i += 1
            while True:
                logic, texts = _grid_fixture(rng, (n_rows, n_rows), (n_cols, n_cols), 3)
                if tuple(map(tuple, logic)) not in b.w.structures:
                    break
            html = b.table(logic, texts)
            tables.append(html)
            tail = _words(rng, 5)
            prose.append(tail)
            parts += [rng.choice(_BOILERPLATE), html, tail]
        b.add_turn(conv, t, " ".join(parts), " ".join(prose), tables)
    _add_hostile(b)


_GENERATORS = {
    "flagship_mix": _gen_flagship,
    "prose_heavy": _gen_prose,
    "large_grids_hostile": _gen_large_hostile,
}


def generate(name: str, seed: int, scale: float = 1.0) -> Workload:
    """The workload ``name`` for ``seed``; ``scale`` multiplies its size."""
    if name not in _GENERATORS:
        raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")
    b = _Builder(name, seed)
    _GENERATORS[name](b, max(4, int(TARGET_TURNS[name] * scale)))
    return b.w
