"""Command-line client — the engine-appropriate analog of the
reference's TUI client (miso-tui): type KQL, see rows.

Modes:
- local:  ``python -m miso_spark.cli --data-dir /path 'KQL'`` spins up
  a session, registers the dir as connector ``t``, runs the query and
  pretty-prints rows (or ``--explain`` for the physical plan).
- remote: ``python -m miso_spark.cli --server http://host:port 'KQL'``
  POSTs to the HTTP server's /query route and streams the SSE frames
  as they arrive — the reference's curl workflow with a table printer.
- REPL:   omit the query to read statements interactively.
"""

from __future__ import annotations

import argparse
import json
import sys
import urllib.request
from typing import Iterable, Iterator


def format_table(rows: list[dict], max_rows: int = 50) -> str:
    """Fixed-width table for a list of row dicts (insertion order).
    Numeric columns right-align, like the reference TUI's table
    renderer (miso-tui table.rs)."""
    if not rows:
        return "(0 rows)"
    cols: list[str] = []
    for r in rows:
        for c in r:
            if c not in cols:
                cols.append(c)
    widths = {c: len(c) for c in cols}
    shown = rows[:max_rows]
    cells = [[_fmt(r.get(c)) for c in cols] for r in shown]
    numeric = {
        c: all(
            isinstance(r.get(c), (int, float)) and not isinstance(r.get(c), bool)
            for r in shown
            if r.get(c) is not None
        )
        for c in cols
    }
    for row in cells:
        for c, v in zip(cols, row):
            widths[c] = max(widths[c], len(v))

    def pad(c: str, v: str) -> str:
        return v.rjust(widths[c]) if numeric[c] else v.ljust(widths[c])

    lines = [
        "  ".join(pad(c, c) for c in cols),
        "  ".join("-" * widths[c] for c in cols),
    ]
    for row in cells:
        lines.append("  ".join(pad(c, v) for c, v in zip(cols, row)))
    extra = len(rows) - len(shown)
    if extra > 0:
        lines.append(f"... ({extra} more rows)")
    lines.append(f"({len(rows)} rows)")
    return "\n".join(lines)


def _fmt(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float):
        return f"{v:g}"
    return str(v)


class ResultsPager:
    """Scrollable viewport over a result table — the text-mode analog
    of the reference TUI's results list (miso-tui
    components/results_list.rs: a selected row the viewport follows,
    half-page jumps, horizontal scroll in 5-char steps; the scrollback
    state model of text_buffer.rs). The header row stays pinned;
    ``render()`` returns the visible slice plus a position footer.

    Keys (vim-ish, like the reference): ``j``/``k`` move the selection,
    ``d``/``u`` half-page down/up, ``h``/``l`` scroll horizontally,
    ``g``/``G`` jump to first/last row, ``q`` leaves the pager.
    """

    H_STEP = 5  # horizontal scroll increment (results_list.rs:128)

    def __init__(self, rows: list[dict], height: int = 10, width: int = 80):
        self.height = max(1, height)
        self.width = max(10, width)
        table = format_table(rows, max_rows=len(rows) or 1).split("\n")
        # header + underline stay pinned; the body scrolls
        self.header = table[:2] if len(table) >= 2 else table
        self.body = table[2:-1] if len(table) > 3 else table[2:]
        self.n_rows = len(rows)
        self.selected = 0
        self.scroll_x = 0
        self.scroll_y = 0

    # -- state transitions (results_list.rs:107-131) -------------------
    def key(self, k: str) -> bool:
        """Apply one keypress; False when the key closes the pager."""
        last = max(0, len(self.body) - 1)
        if k in ("j", "down") and self.selected < last:
            self.selected += 1
        elif k in ("k", "up") and self.selected > 0:
            self.selected -= 1
        elif k in ("d", "page_down", "pagedown"):
            # both spellings: the REPL driver emits "page_down", the
            # TUI terminal driver maps curses.KEY_NPAGE to "pagedown"
            self.selected = min(self.selected + self.height // 2, last)
        elif k in ("u", "page_up", "pageup"):
            self.selected = max(self.selected - self.height // 2, 0)
        elif k in ("g", "home"):
            self.selected = 0
        elif k in ("G", "end"):
            self.selected = last
        elif k in ("l", "right"):
            self.scroll_x += self.H_STEP
        elif k in ("h", "left"):
            self.scroll_x = max(0, self.scroll_x - self.H_STEP)
        elif k == "q":
            return False
        # viewport follows the selection (results_list.rs:68-71)
        if self.selected < self.scroll_y:
            self.scroll_y = self.selected
        elif self.selected >= self.scroll_y + self.height:
            self.scroll_y = self.selected + 1 - self.height
        return True

    def render(self) -> str:
        def clip(line: str) -> str:
            return line[self.scroll_x : self.scroll_x + self.width]

        # header gets the same 2-char gutter as the body's selection
        # mark, so columns line up with their headings
        out = [f"  {clip(line)}" for line in self.header]
        window = self.body[self.scroll_y : self.scroll_y + self.height]
        for i, line in enumerate(window):
            mark = ">" if self.scroll_y + i == self.selected else " "
            out.append(f"{mark} {clip(line)}")
        lo = min(self.scroll_y + 1, len(self.body))
        hi = min(self.scroll_y + len(window), len(self.body))
        pos = f"rows {lo}-{hi} of {self.n_rows}"
        if self.scroll_x:
            pos += f"  cols +{self.scroll_x}"
        out.append(f"[{pos}  j/k u/d h/l g/G q]")
        return "\n".join(out)


def page_results(rows: list[dict], keys: Iterable[str], out=print,
                 height: int = 10, width: int = 80) -> ResultsPager:
    """Drive a ResultsPager from an iterable of keypresses (stdin lines
    in the REPL, a list in tests), re-rendering after each. Returns the
    pager for state inspection."""
    pager = ResultsPager(rows, height=height, width=width)
    out(pager.render())
    for k in keys:
        if not pager.key(k.strip() or "q"):
            break
        out(pager.render())
    return pager


def stream_remote(server: str, query: str, partial: bool = False) -> Iterator[dict]:
    """Yield row dicts from the server's SSE stream; raises on an
    in-band ``event: error`` frame."""
    body = {"query": query}
    if partial:
        body["partial_stream"] = True
    req = urllib.request.Request(
        f"{server.rstrip('/')}/query",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    resp = urllib.request.urlopen(req)
    pending_error = False
    done = False
    for raw in resp:
        line = raw.decode().strip()
        if line.startswith("event: error"):
            pending_error = True
        elif line.startswith("event: done"):
            done = True
        elif line.startswith("data: "):
            obj = json.loads(line[6:])
            if pending_error:
                raise RuntimeError(obj.get("error", "query failed"))
            if not done:
                yield obj


def run_remote(server: str, query: str, partial: bool = False) -> list[dict]:
    return list(stream_remote(server, query, partial))


def final_rows(rows: list[dict]) -> list[dict]:
    """Reduce a partial_stream SSE row list to the displayable FINAL
    answer (server.py /query protocol): untagged rows are the final
    batch; if the stream ended without one (cut mid-flight), the
    newest round that reached its done marker is the best state —
    metadata stripped either way. Non-partial streams pass through
    untouched (no row carries ``_miso_metadata``)."""
    finals = [r for r in rows if "_miso_metadata" not in r]
    if finals:
        return finals
    best: list[dict] = []
    current: list[dict] = []
    cur_id = None
    for r in rows:
        meta = r.get("_miso_metadata") or {}
        rid = meta.get("id")
        if rid != cur_id:
            cur_id, current = rid, []
        if meta.get("done"):
            best = current
            current = []
        else:
            current.append(
                {k: v for k, v in r.items() if k != "_miso_metadata"}
            )
    return best


def repl(run_one, lines: Iterable[str], out=print, err=None) -> list[str]:
    """The interactive loop, decoupled from stdin for testability.

    Commands (the miso-tui scrollback/history surface, text-mode):
    ``:history`` lists this session's queries, ``:N`` re-runs the Nth,
    a blank line exits. Returns the final history list.
    """
    err = err or (lambda msg: print(msg, file=sys.stderr))
    history: list[str] = []
    for line in lines:
        q = line.strip()
        if not q:
            break
        if q == ":history":
            for i, h in enumerate(history, 1):
                out(f"{i:3}  {h}")
            continue
        if q.startswith(":") and q[1:].isdigit():
            n = int(q[1:])
            if not 1 <= n <= len(history):
                err(f"error: no history entry {n}")
                continue
            q = history[n - 1]
            out(f"> {q}")
        history.append(q)
        try:
            run_one(q)
        except Exception as e:  # noqa: BLE001 - REPL keeps going
            err(f"error: {e}")
    return history


def _local_miso(args):  # pragma: no cover - thin shell
    """The local-mode engine: a session with ``--data-dir`` registered
    as connector ``t`` and ``--dynamic-dir`` as ``dyn``."""
    from miso_spark.api import MisoSpark
    from miso_spark.session import get_spark
    from miso_spark.sources import JsonDynamicDirSource, ParquetDirSource

    m = MisoSpark(get_spark("miso_spark_cli"))
    if args.data_dir:
        m.registry.register("t", ParquetDirSource(args.data_dir))
    if args.dynamic_dir:
        m.registry.register("dyn", JsonDynamicDirSource(args.dynamic_dir))
    return m


def main(argv: list[str] | None = None) -> int:  # pragma: no cover - thin shell
    ap = argparse.ArgumentParser(prog="miso-spark", description=__doc__)
    ap.add_argument("query", nargs="?", help="KQL query (omit for a REPL)")
    ap.add_argument("--data-dir", help="parquet dir registered as connector 't'")
    ap.add_argument("--dynamic-dir", help="JSON-lines dir registered as "
                    "connector 'dyn' with per-row dynamic (VARIANT) typing")
    ap.add_argument("--server", help="HTTP server base URL (remote mode)")
    ap.add_argument("--explain", action="store_true", help="print the physical plan")
    ap.add_argument("--json", action="store_true", help="print JSON lines, not a table")
    ap.add_argument("--partial", action="store_true", help="request partial_stream")
    ap.add_argument("--pager", action="store_true",
                    help="interactive scrollback for large results (REPL tty default)")
    ap.add_argument("--tui", action="store_true",
                    help="full-screen interactive app (query editor + "
                         "results-with-preview, the miso-tui analog)")
    args = ap.parse_args(argv)

    if args.tui:
        from miso_spark.tui import run_terminal

        if args.server:
            # remote mode is INCREMENTAL (miso-tui client.rs): the
            # runner returns the live SSE generator and the app drains
            # it per tick, rendering rows as the server delivers them
            # (with --partial, replace-on-round previews)
            def tui_runner(q: str):
                return stream_remote(args.server, q, args.partial)
        else:
            tui_runner = _local_miso(args).query_rows

        run_terminal(tui_runner, args.query, incremental=bool(args.server))
        return 0

    def show(rows: list[dict]) -> None:
        if args.json:
            print("\n".join(json.dumps(r, default=str) for r in rows))
            return
        # --pager forces the pager; a tty REPL gets it for large results
        interactive = args.pager or (
            args.query is None and sys.stdin.isatty() and len(rows) > 20
        )
        if interactive:
            import shutil

            def keys() -> Iterator[str]:
                while True:
                    try:
                        yield input("pager> ")
                    except EOFError:
                        return

            cols, lines = shutil.get_terminal_size((80, 24))
            page_results(rows, keys(),
                         height=max(5, lines - 5), width=max(20, cols - 2))
            return
        print(format_table(rows, max_rows=len(rows) or 1))

    if args.server:
        def run_one(q: str) -> None:
            # table/json modes show the final answer; intermediate
            # partial rounds are a live-view concern (--tui renders
            # them round-by-round through ResultsWithPreview)
            show(final_rows(run_remote(args.server, q, args.partial)))
    else:
        m = _local_miso(args)

        def run_one(q: str) -> None:
            if args.explain:
                print(m.explain(q))
                return
            show(list(m.query_rows(q)))

    if args.query:
        run_one(args.query)
        return 0
    # REPL — line editing + in-process arrow-key history when the
    # readline module is available (no files written)
    try:
        import readline  # noqa: F401
    except ImportError:
        pass
    print("miso-spark> enter KQL (:history lists, :N re-runs, blank exits)")

    def prompt_lines() -> Iterator[str]:
        # input() routes through readline (arrow keys, ctrl-r) on a tty
        while True:
            try:
                yield input("miso-spark> ")
            except EOFError:
                return

    repl(run_one, prompt_lines() if sys.stdin.isatty() else sys.stdin)
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
