"""Embedded-HTML table detection/parsing and boilerplate stripping.

The graft inverse of :mod:`.html_render`: turn text contains prose +
boilerplate + zero or more ``<table>`` fragments; this module finds the
fragments, parses them into ``(logic_points, cell_texts)`` — the exact IR the
reference's renderer consumes (``plot_html_table``, ref
utils_table_recover.py:409-475) — and synthesizes deterministic physical cell
quads from the logical grid so the geometry stages (TableRecover, OCR↔cell
matching) operate on real coordinates.

Round-trip law (pinned by tests): ``render_table_html(*parse_table_html(h)) == h``
for any ``h`` produced by ``render_table_html``.

Everything here is stdlib-only (html.parser) and runs inside Arrow-batched
``mapInPandas`` stages — one call per turn, vectorized per batch.
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right
from heapq import heappop, heappush
from html.parser import HTMLParser
from typing import List, Optional, Tuple

__all__ = [
    "find_table_fragments",
    "parse_table_html",
    "strip_boilerplate",
    "quads_from_logic_points",
    "TABLE_RE",
]

TABLE_RE = re.compile(r"<table\b[^>]*>.*?</table>", re.IGNORECASE | re.DOTALL)

_BOILERPLATE_BLOCK_RE = re.compile(
    r"<(script|style|nav|header|footer|aside|noscript)\b[^>]*>.*?</\1>",
    re.IGNORECASE | re.DOTALL,
)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"[ \t\f\v\r]+")  # \r: CRLF parity with the native chain


_TABLE_OPEN_RE = re.compile(r"<table", re.IGNORECASE)
_TABLE_TOK_RE = re.compile(r"<table\b[^>]*>|</table\s*>", re.IGNORECASE | re.DOTALL)


def find_table_fragments(text: str) -> List[Tuple[int, int, str]]:
    """All top-level ``<table>...</table>`` fragments in ``text`` as
    (start, end, html).

    Depth-balanced: a nested ``<table>`` stays inside its outer fragment
    (its text flattens into the enclosing cell at parse time) instead of
    truncating the outer fragment at the inner ``</table>``.  Matching is
    case-insensitive throughout — including this fast pre-check, which
    must accept everything the Spark-side ``has_table_col`` filter passes.
    """
    if _TABLE_OPEN_RE.search(text) is None:
        return []
    out: List[Tuple[int, int, str]] = []
    depth = 0
    start = 0
    for m in _TABLE_TOK_RE.finditer(text):
        if m.group(0)[1] != "/":
            if depth == 0:
                start = m.start()
            depth += 1
        elif depth > 0:
            depth -= 1
            if depth == 0:
                out.append((start, m.end(), text[start : m.end()]))
    return out


def _span(v) -> int:
    try:
        return min(max(int(v), 1), 1 << 12)  # clamp hostile spans
    except (TypeError, ValueError):
        return 1


class _TableParser(HTMLParser):
    """Standard HTML-table grid placement with rowspan/colspan occupancy.

    Occupancy is kept as column intervals, never per grid slot, so a cell
    costs the same whatever grid its spans claim.  Every cell placed in the
    current row sits left of the cursor, so only rowspans reaching down
    from earlier rows can block it.  ``live`` is a heap of those spans as
    ``(end_row, c0, c1)`` (half-open), and ``occ_lo``/``occ_hi`` hold their
    union over the current row as sorted, disjoint, non-touching
    ``[lo, hi)`` runs.  Rowspans placed in the current row wait in ``born``
    until the next ``<tr>``.  While no two live spans overlap, a span that
    ends is cut out of its run; once some do, the runs are rebuilt from
    ``live`` on each row where a span ends.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.cells: List[dict] = []  # {r0, rspan, c0, cspan, texts}
        self.live: List[Tuple[int, int, int]] = []
        self.born: List[Tuple[int, int, int]] = []
        self.occ_lo: List[int] = []
        self.occ_hi: List[int] = []
        self.overlap = False  # some live spans may share a slot
        self.row = -1
        self.cursor = 0
        self.in_cell = False
        self.cell_lines: List[str] = []
        self.cur_attrs: dict = {}
        self.depth = 0  # nested <table> guard

    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        if tag == "table":
            self.depth += 1
            return
        if self.depth > 1:
            return
        if tag == "tr":
            self._close_cell()  # implied </td> (valid HTML omits it)
            self._next_row()
        elif tag in ("td", "th"):
            self._close_cell()
            self.in_cell = True
            self.cell_lines = [""]
            self.cur_attrs = dict(attrs)
        elif tag == "br" and self.in_cell:
            self.cell_lines.append("")

    def handle_startendtag(self, tag, attrs):
        if tag.lower() == "br" and self.in_cell:
            self.cell_lines.append("")

    def handle_endtag(self, tag):
        tag = tag.lower()
        if tag == "table":
            if self.depth == 1:
                self._close_cell()  # implied </td> before </table>
            self.depth -= 1
            return
        if self.depth > 1:
            return
        if tag in ("td", "th"):
            self._close_cell()
        elif tag == "tr":
            self._close_cell()

    def handle_data(self, data):
        # depth > 1 = inside a nested <table>: its structure tags are
        # ignored (guards above) but its TEXT flattens into the outer cell
        if self.in_cell:
            self.cell_lines[-1] += data

    def close(self):
        super().close()
        self._close_cell()  # unterminated fragment: flush the open cell

    def _next_row(self) -> None:
        self.row += 1
        self.cursor = 0
        ended = False
        while self.live and self.live[0][0] <= self.row:
            _, c0, c1 = heappop(self.live)
            ended = True
            if not self.overlap:
                self._release(c0, c1)
        if ended and self.overlap:
            self._rebuild()
        for span in self.born:
            heappush(self.live, span)
            self._occupy(span[1], span[2])
        self.born = []

    def _occupy(self, c0: int, c1: int) -> None:
        """Merge ``[c0, c1)`` into the current row's occupied runs."""
        lo, hi = self.occ_lo, self.occ_hi
        i = bisect_left(hi, c0)  # first run touching c0 or right of it
        j = bisect_right(lo, c1)  # past the last run touching c1
        if i < j:
            # only the end runs can merely touch [c0, c1); the rest overlap it
            if j - i > (hi[i] == c0) + (lo[j - 1] == c1):
                self.overlap = True
            c0 = min(c0, lo[i])
            c1 = max(c1, hi[j - 1])
        lo[i:j] = [c0]
        hi[i:j] = [c1]

    def _release(self, c0: int, c1: int) -> None:
        """Cut an ended span out of its run (no other live span covers it)."""
        k = bisect_right(self.occ_lo, c0) - 1
        pieces = [(a, b) for a, b in ((self.occ_lo[k], c0), (c1, self.occ_hi[k])) if a < b]
        self.occ_lo[k : k + 1] = [a for a, _ in pieces]
        self.occ_hi[k : k + 1] = [b for _, b in pieces]

    def _rebuild(self) -> None:
        """Recompute the runs (and whether live spans overlap) from ``live``."""
        lo: List[int] = []
        hi: List[int] = []
        self.overlap = False
        for c0, c1 in sorted((c0, c1) for _, c0, c1 in self.live):
            if hi and c0 <= hi[-1]:
                self.overlap = self.overlap or c0 < hi[-1]
                hi[-1] = max(hi[-1], c1)
            else:
                lo.append(c0)
                hi.append(c1)
        self.occ_lo, self.occ_hi = lo, hi

    def _close_cell(self) -> None:
        if not self.in_cell:
            return
        self.in_cell = False
        if self.row < 0:  # hostile html: <td> before any <tr>
            self.row = 0
        attrs = self.cur_attrs
        if self.occ_lo:
            k = bisect_right(self.occ_lo, self.cursor) - 1
            if k >= 0 and self.cursor < self.occ_hi[k]:
                self.cursor = self.occ_hi[k]  # runs never touch: this slot is free
        rspan = _span(attrs.get("rowspan", 1))
        cspan = _span(attrs.get("colspan", 1))
        explicit = "rowspan" in attrs or "colspan" in attrs
        texts = self.cell_lines
        if not explicit and "".join(texts) == "":
            # bare <td></td> — the renderer's empty *grid slot*, not a cell
            self.cursor += 1
            return
        self.cells.append(
            {
                "r0": self.row,
                "rspan": rspan,
                "c0": self.cursor,
                "cspan": cspan,
                "texts": texts,
            }
        )
        if rspan > 1:
            self.born.append((self.row + rspan, self.cursor, self.cursor + cspan))
        self.cursor += cspan


_FAST_TOKEN_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:[^>'\"]|'[^']*'|\"[^\"]*\")*)>")
_FAST_ATTR_RE = re.compile(r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*(\"[^\"]*\"|'[^']*'|[^\s>]+))?")


def _unquote_attr(v: Optional[str]) -> Optional[str]:
    if v is None:
        return None
    if v and v[0] in "\"'" and v[-1] == v[0] and len(v) >= 2:
        return v[1:-1]
    return v


def _fast_feed(p: _TableParser, html: str) -> bool:
    """Specialized tokenizer for the common table grammar, driving the SAME
    ``_TableParser`` event handlers the stdlib path drives (so cell
    placement semantics cannot diverge — only the tokenization is bypassed;
    ~3x faster, and this parse is ~30% of the per-table kernel).  Returns
    False to decline — comments, entity references, stray ``<`` in text,
    exotic markup — in which case the caller re-parses with html.parser on
    a fresh state machine.  Equivalence is fuzz-pinned by
    tests/test_core_html.py."""
    if "<!--" in html or "&" in html:
        return False
    pos = 0
    for m in _FAST_TOKEN_RE.finditer(html):
        if m.start() > pos:
            text = html[pos : m.start()]
            if "<" in text:
                return False
            p.handle_data(text)
        pos = m.end()
        closing, tag, raw = m.group(1), m.group(2).lower(), m.group(3)
        if closing:
            p.handle_endtag(tag)
            continue
        stripped = raw.rstrip()
        selfclose = stripped.endswith("/")
        if selfclose:
            # html.parser folds a trailing '/' into an OPEN unquoted attr
            # value ('<td rowspan=2/>' -> rowspan="2/", NOT self-closing);
            # decline those shapes to the stdlib path rather than guess.
            seg = stripped[:-1].split()
            tail = seg[-1] if seg else ""
            if "=" in tail and not tail.endswith(('"', "'")):
                return False
            raw = stripped[:-1]
        # _TableParser reads attributes only on td/th; skip the attr regex
        # for tr/br/table/etc (the common case — measured ~10% of the parse)
        if raw and tag in ("td", "th"):
            attrs = [
                (a.group(1).lower(), _unquote_attr(a.group(2)))
                for a in _FAST_ATTR_RE.finditer(raw)
            ]
        else:
            attrs = []
        if selfclose:
            p.handle_startendtag(tag, attrs)
        else:
            p.handle_starttag(tag, attrs)
    rest = html[pos:]
    if "<" in rest:
        return False
    p.handle_data(rest)
    p._close_cell()  # same end-of-input flush as the stdlib path's close()
    return True


def parse_table_html(html: str) -> Tuple[List[List[int]], List[List[str]]]:
    """Parse one ``<table>`` fragment into (logic_points, cell_texts).

    ``logic_points[i] = [row_start, row_end, col_start, col_end]``
    (end-inclusive, the reference's convention — comment at ref
    lineless_table_rec/main.py:155-156); ``cell_texts[i]`` is the list of
    ``<br>``-separated lines.  Bare ``<td></td>`` (no span attrs, no text)
    marks an empty grid slot and yields no cell.
    """
    p = _TableParser()
    if not _fast_feed(p, html):
        p = _TableParser()  # fast path may have mutated state before declining
        p.feed(html)
        p.close()
    logic: List[List[int]] = []
    texts: List[List[str]] = []
    for cell in p.cells:
        logic.append(
            [
                cell["r0"],
                cell["r0"] + cell["rspan"] - 1,
                cell["c0"],
                cell["c0"] + cell["cspan"] - 1,
            ]
        )
        texts.append(cell["texts"])
    return logic, texts


def quads_from_logic_points(
    logic_points: List[List[int]],
    col_width: float = 120.0,
    row_height: float = 40.0,
    origin_x: float = 0.0,
    origin_y: float = 0.0,
) -> List[List[List[float]]]:
    """Deterministic counter-clockwise physical quads for a logical grid.

    Gives HTML-borne tables real coordinates so the geometric stages
    (row clustering, benchmark boundaries, span fitting, containment joins)
    run for real.  Quad corner order is [tl, bl, br, tr] — the orientation
    TableRecover consumes (ref wired_table_rec/main.py:99-106).
    """
    quads = []
    for r0, r1, c0, c1 in logic_points:
        x0 = origin_x + c0 * col_width
        x1 = origin_x + (c1 + 1) * col_width
        y0 = origin_y + r0 * row_height
        y1 = origin_y + (r1 + 1) * row_height
        quads.append([[x0, y0], [x0, y1], [x1, y1], [x1, y0]])
    return quads


def strip_boilerplate(text: str) -> str:
    """Main-content extraction for a turn's text payload.

    Removes script/style/nav/header/footer/aside blocks and HTML comments,
    drops the remaining tags, and normalizes runs of spaces/tabs — the graft
    analogue of the reference's input normalization (``LoadImage`` channel
    cleanup, ref lineless_table_rec/utils/utils.py:249-341).  ``<table>``
    fragments should be extracted *before* calling this.
    """
    text = _COMMENT_RE.sub("", text)
    text = _BOILERPLATE_BLOCK_RE.sub("", text)
    text = _TAG_RE.sub(" ", text)
    text = _WS_RE.sub(" ", text)
    lines = [ln.strip() for ln in text.split("\n")]
    return "\n".join(ln for ln in lines if ln)


def extract_turn(
    text: str,
) -> Tuple[str, List[Tuple[List[List[int]], List[List[str]]]]]:
    """Split a turn's text into (clean main content, parsed tables)."""
    frags = find_table_fragments(text)
    tables = [parse_table_html(h) for _, _, h in frags]
    remainder = TABLE_RE.sub(" ", text) if frags else text
    return strip_boilerplate(remainder), tables
