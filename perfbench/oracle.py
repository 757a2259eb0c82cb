"""Check one job's output against the workload's oracle.

A job's output is correct when:

* every table row's ``pred_html`` is byte-equal to the generated table HTML
  and its ``error`` is null;
* every hostile fragment came back as an error row, and nothing else did;
* every turn's ``main_text`` equals the cleaned text known by construction;
* no ``(conv_id, turn_idx, table_idx)`` or ``(conv_id, turn_idx)`` key is
  missing or extra.

Each table and each turn is one check; a check that fails is a mismatch.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List

import pyarrow.parquet as pq

from workloads import Workload


@dataclass
class CheckResult:
    checked: int = 0
    mismatches: int = 0
    tables: int = 0
    error_rows: int = 0
    turns_with_tables: int = 0
    examples: List[str] = field(default_factory=list)

    def miss(self, what: str) -> None:
        self.mismatches += 1
        if len(self.examples) < 5:
            self.examples.append(what)


def check_output(w: Workload, out_dir: str) -> CheckResult:
    res = CheckResult()
    t = pq.read_table(
        f"{out_dir}/tables",
        columns=["conv_id", "turn_idx", "table_idx", "pred_html", "error"],
    ).to_pydict()
    seen = set()
    for conv_id, turn_idx, table_idx, html, err in zip(
        t["conv_id"], t["turn_idx"], t["table_idx"], t["pred_html"], t["error"]
    ):
        key = (conv_id, turn_idx, table_idx)
        res.tables += 1
        res.error_rows += err is not None
        res.checked += 1
        if key in seen:
            res.miss(f"duplicate table {key}")
        seen.add(key)
        if key not in w.tables:
            res.miss(f"extra table {key}")
        elif w.tables[key] is None:
            if err is None:
                res.miss(f"hostile fragment {key} returned a table")
        elif err is not None:
            res.miss(f"table {key} failed: {err[:80]}")
        elif html != w.tables[key]:
            res.miss(f"table {key} html differs")
    res.turns_with_tables = len({key[:2] for key in seen})
    for key in w.tables.keys() - seen:
        res.checked += 1
        res.miss(f"missing table {key}")

    m = pq.read_table(
        f"{out_dir}/main_text", columns=["conv_id", "turn_idx", "main_text"]
    ).to_pydict()
    seen_turns = set()
    for conv_id, turn_idx, text in zip(m["conv_id"], m["turn_idx"], m["main_text"]):
        key = (conv_id, turn_idx)
        res.checked += 1
        if key in seen_turns:
            res.miss(f"duplicate turn {key}")
        seen_turns.add(key)
        want = w.main.get(key)
        if want is None:
            res.miss(f"extra turn {key}")
        elif text != want:
            res.miss(f"main_text of {key} differs")
    for key in w.main.keys() - seen_turns:
        res.checked += 1
        res.miss(f"missing turn {key}")
    return res
