"""In-process ES / Quickwit / Splunk stub services that EVALUATE the
requests the connectors send, over small JSON document sets.

These back tests/test_connector_cases.py, the port of the reference's
live-connector e2e corpus (tests/common/test_cases.rs +
predicate_pushdown.rs): the reference runs each case against real
containers; here the same wire requests hit these stubs, which execute
the pushed-down query so that pushdown-on results can be compared
against pushdown-off (engine-side) results and the corpus's expected
rows.

Evaluation semantics mirror each service's defaults as the reference
relies on them:

- Elasticsearch: match_phrase is CASE-INSENSITIVE token matching (the
  standard analyzer lowercases) — which is why the reference pushes
  ``has`` and keeps ``has_cs`` engine-side (elasticsearch.rs:529).
- Quickwit: match_phrase is CASE-SENSITIVE (default tokenizer keeps
  case) — why the reference pushes ``has_cs`` and keeps ``has``
  (quickwit.rs:505). Date metric aggregations return epoch NANOS
  (quickwit.rs:921 agg_value_to_datetime), date_histogram keys epoch
  MILLIS (:905 group_by_value_to_datetime).
- Elasticsearch date aggregation values return epoch MILLIS.
- Splunk: results rows carry every field stringified plus ``_raw``
  (the original event JSON) and ``_time`` (epoch seconds) — the shape
  splunk/mod.rs:1015 transform_log expects; events come back in
  _time-DESCENDING order by default (what apply_topn's skipped
  ``sort -_time`` relies on, mod.rs:1223); ``stats by`` drops events
  missing a group field.
"""

from __future__ import annotations

import http.server
import itertools
import json
import re
import threading
import urllib.parse
from datetime import datetime, timezone

# ---------------------------------------------------------------------------
# shared value helpers


def get_path(doc, field):
    """Dotted-path access; returns (found, value)."""
    cur = doc
    for part in field.split("."):
        if not isinstance(cur, dict) or part not in cur:
            return False, None
        cur = cur[part]
    return True, cur


def to_num(v):
    try:
        if isinstance(v, bool):
            return None
        return float(v)
    except (TypeError, ValueError):
        return None


def ts_epoch(v):
    """Epoch seconds from an RFC3339 string or a numeric epoch."""
    n = to_num(v)
    if n is not None:
        return n
    if isinstance(v, str):
        try:
            return datetime.fromisoformat(v.replace("Z", "+00:00")).timestamp()
        except ValueError:
            return None
    return None


def coerce_eq(doc_val, query_val) -> bool:
    """Equality with the service's type coercion: the connectors format
    every literal as a string (es_dsl._fmt), the service compares it
    against the indexed (typed) value."""
    if isinstance(doc_val, list):
        return any(coerce_eq(x, query_val) for x in doc_val)
    dn, qn = to_num(doc_val), to_num(query_val)
    if dn is not None and qn is not None:
        return dn == qn
    if isinstance(doc_val, bool) or str(query_val) in ("true", "false"):
        return str(doc_val).lower() == str(query_val).lower()
    return str(doc_val) == str(query_val)


def coerce_cmp(doc_val, query_val):
    """-1/0/1 with numeric/date coercion; None = incomparable."""
    dn, qn = to_num(doc_val), to_num(query_val)
    if dn is None or qn is None:
        de, qe = ts_epoch(doc_val), ts_epoch(query_val)
        if de is not None and qe is not None:
            dn, qn = de, qe
        elif isinstance(doc_val, str) and isinstance(query_val, str):
            return (doc_val > query_val) - (doc_val < query_val)
        else:
            return None
    return (dn > qn) - (dn < qn)


_TOKEN_RE = re.compile(r"[A-Za-z0-9_]+")


def tokenize(text: str, lower: bool) -> list[str]:
    toks = _TOKEN_RE.findall(str(text))
    return [t.lower() for t in toks] if lower else toks


def _phrase_match(field_text, phrase, lower: bool, prefix: bool) -> bool:
    doc_toks = tokenize(field_text, lower)
    q_toks = tokenize(phrase, lower)
    if not q_toks:
        return True
    n = len(q_toks)
    for i in range(len(doc_toks) - n + 1):
        window = doc_toks[i : i + n]
        if window[: n - 1] == q_toks[: n - 1] and (
            window[n - 1].startswith(q_toks[n - 1])
            if prefix
            else window[n - 1] == q_toks[n - 1]
        ):
            return True
    return False


# ---------------------------------------------------------------------------
# ES query-DSL evaluation


class DslEval:
    def __init__(self, case_sensitive_phrase: bool):
        self.cs = case_sensitive_phrase

    def matches(self, q: dict | None, doc: dict) -> bool:
        if not q:
            return True
        (kind, body), = q.items()
        if kind == "match_all":
            return True
        if kind == "bool":
            def as_list(v):
                return v if isinstance(v, list) else [v]

            for sub in as_list(body.get("must", [])):
                if not self.matches(sub, doc):
                    return False
            for sub in as_list(body.get("must_not", [])):
                if self.matches(sub, doc):
                    return False
            should = as_list(body.get("should", []))
            if should:
                # filter-context default minimum_should_match is 1 when
                # there is no must clause; the connectors set it
                # explicitly (ES) or rely on the default (Quickwit)
                if not any(self.matches(s, doc) for s in should):
                    return False
            return True
        if kind == "term":
            (field, spec), = body.items()
            val = spec["value"] if isinstance(spec, dict) else spec
            found, dv = get_path(doc, field)
            return found and coerce_eq(dv, val)
        if kind == "terms":
            (field, values), = body.items()
            found, dv = get_path(doc, field)
            return found and any(coerce_eq(dv, v) for v in values)
        if kind == "range":
            (field, spec), = body.items()
            found, dv = get_path(doc, field)
            if not found:
                return False
            for op, qv in spec.items():
                c = coerce_cmp(dv, qv)
                if c is None:
                    return False
                if op == "gt" and not c > 0:
                    return False
                if op == "gte" and not c >= 0:
                    return False
                if op == "lt" and not c < 0:
                    return False
                if op == "lte" and not c <= 0:
                    return False
            return True
        if kind == "exists":
            found, _ = get_path(doc, body["field"])
            return found
        if kind == "match_phrase":
            (field, spec), = body.items()
            phrase = spec["query"] if isinstance(spec, dict) else spec
            found, dv = get_path(doc, field)
            return found and _phrase_match(dv, phrase, not self.cs, prefix=False)
        if kind == "match_phrase_prefix":
            (field, spec), = body.items()
            phrase = spec["query"] if isinstance(spec, dict) else spec
            found, dv = get_path(doc, field)
            return found and _phrase_match(dv, phrase, not self.cs, prefix=True)
        raise ValueError(f"stub: unsupported query kind {kind!r}")


# ---------------------------------------------------------------------------
# aggregations


def _date_value(epoch_s: float, flavor: str) -> float:
    # quickwit metric aggs → nanos (quickwit.rs:921); ES → millis
    return epoch_s * 1e9 if flavor == "quickwit" else epoch_s * 1e3


def run_aggs(aggs_def: dict, docs: list[dict], flavor: str, ts_fields: set) -> dict:
    """Evaluate an aggs tree into the response ``aggregations`` dict."""
    out: dict = {}
    for name, spec in aggs_def.items():
        sub_aggs = spec.get("aggs", {})
        if "terms" in spec or "histogram" in spec or "date_histogram" in spec:
            if "terms" in spec:
                field = spec["terms"]["field"]
                if field in ts_fields:
                    # real services key a terms bucket on a date field
                    # by EPOCH MILLIS (key_as_string carries the text;
                    # the reference reads only `key`, quickwit.rs:905)
                    key_of = lambda v: ts_epoch(v) * 1000  # noqa: E731
                else:
                    key_of = lambda v: v  # noqa: E731
            elif "histogram" in spec:
                field = spec["histogram"]["field"]
                interval = spec["histogram"]["interval"]
                key_of = lambda v: (to_num(v) // interval) * interval  # noqa: E731
            else:
                field = spec["date_histogram"]["field"]
                ms = float(spec["date_histogram"]["fixed_interval"].rstrip("ms"))
                # date_histogram keys are epoch millis for both services
                key_of = lambda v: (ts_epoch(v) * 1000 // ms) * ms  # noqa: E731
            groups: dict = {}
            for d in docs:
                found, v = get_path(d, field)
                if not found or v is None:
                    continue
                vals = v if isinstance(v, list) else [v]
                for x in vals:
                    groups.setdefault(key_of(x), []).append(d)
            buckets = []
            for key in sorted(groups, key=lambda k: (str(type(k)), k)):
                bucket = {"key": key, "doc_count": len(groups[key])}
                if sub_aggs:
                    bucket.update(run_aggs(sub_aggs, groups[key], flavor, ts_fields))
                buckets.append(bucket)
            out[name] = {"buckets": buckets}
            continue
        # metric aggregation
        (op, params), = ((k, v) for k, v in spec.items() if k != "aggs")
        field = params["field"]
        values = []
        for d in docs:
            found, v = get_path(d, field)
            if found and v is not None:
                values.extend(v if isinstance(v, list) else [v])
        is_date = field in ts_fields
        if op == "cardinality":
            out[name] = {"value": len({json.dumps(v, default=str) for v in values})}
        elif op == "value_count":
            out[name] = {"value": len(values)}
        elif op in ("min", "max", "sum", "avg"):
            nums = [
                (ts_epoch(v) if is_date else to_num(v))
                for v in values
            ]
            nums = [n for n in nums if n is not None]
            if not nums:
                # real ES/Quickwit: sum over no values is 0.0;
                # min/max/avg come back null
                out[name] = {"value": 0.0 if op == "sum" else None}
            else:
                if op == "min":
                    r = min(nums)
                elif op == "max":
                    r = max(nums)
                elif op == "sum":
                    r = sum(nums)
                else:
                    r = sum(nums) / len(nums)
                if is_date and op in ("min", "max"):
                    r = _date_value(r, flavor)
                out[name] = {"value": r}
        else:
            raise ValueError(f"stub: unsupported metric agg {op!r}")
    return out


# ---------------------------------------------------------------------------
# search core (shared by the ES and Quickwit stubs)


class SearchCore:
    def __init__(self, indexes: dict[str, list[dict]], flavor: str,
                 ts_fields: dict[str, str] | None = None):
        self.indexes = indexes
        self.flavor = flavor
        #: index → its date (timestamp) field, for date-typed agg values
        self.ts_fields = ts_fields or {}
        self.eval = DslEval(case_sensitive_phrase=(flavor == "quickwit"))
        self._scrolls: dict[str, tuple[list, int]] = {}
        self._ids = itertools.count(1)
        self.search_requests: list[tuple[str, dict]] = []
        #: every _source narrowing that reached a search (URL param or
        #: body _source), as the comma-joined field list
        self.source_includes_seen: list[str] = []

    def _docs(self, index_expr: str) -> list[dict]:
        docs = []
        for idx in index_expr.split(","):
            if idx not in self.indexes:
                raise KeyError(f"stub: unknown index {idx!r}")
            docs.extend(self.indexes[idx])
        return docs

    def _sorted(self, docs, sorts):
        for spec in reversed(sorts or []):
            (field, opts), = spec.items()
            order = opts.get("order", "asc")
            nulls = opts.get("nulls")
            if nulls is None:
                missing = opts.get("missing", "_last")
                nulls = "first" if missing == "_first" else "last"
            reverse = order == "desc"

            present = [d for d in docs if get_path(d, field)[0]]
            absent = [d for d in docs if not get_path(d, field)[0]]

            def key(d):
                v = get_path(d, field)[1]
                n = ts_epoch(v)
                return (0, n) if n is not None else (1, str(v))

            present.sort(key=key, reverse=reverse)
            docs = (absent + present) if nulls == "first" else (present + absent)
        return docs

    def count(self, index_expr: str, body: dict | None) -> dict:
        q = (body or {}).get("query")
        docs = [d for d in self._docs(index_expr) if self.eval.matches(q, d)]
        return {"count": len(docs)}

    def search(self, index_expr: str, body: dict | None, params: dict) -> dict:
        body = body or {}
        self.search_requests.append((index_expr, body))
        q = body.get("query")
        docs = [d for d in self._docs(index_expr) if self.eval.matches(q, d)]

        if "aggs" in body:
            ts = {self.ts_fields[i] for i in index_expr.split(",") if i in self.ts_fields}
            return {
                "aggregations": run_aggs(body["aggs"], docs, self.flavor, ts),
                "hits": {"total": {"value": len(docs)}, "hits": []},
            }

        docs = self._sorted(docs, body.get("sort"))

        includes = params.get("_source_includes")
        if includes is None and isinstance(body.get("_source"), list):
            includes = ",".join(body["_source"])
        if includes:
            self.source_includes_seen.append(includes)
        if includes:
            keep = includes.split(",")
            docs = [
                {k: d[k] for k in keep if k in d}
                for d in docs
            ]

        size = body.get("size", params.get("size"))
        size = int(size) if size is not None else 10_000
        page, rest = docs[:size], docs[size:]
        resp = {
            "hits": {
                "total": {"value": len(docs)},
                "hits": [{"_source": d} for d in page],
            }
        }
        sid = f"scroll-{next(self._ids)}"
        self._scrolls[sid] = (rest, size)
        resp["_scroll_id"] = sid
        return resp

    def scroll(self, scroll_id: str) -> dict:
        rest, size = self._scrolls.get(scroll_id, ([], 10_000))
        page, rest = rest[:size], rest[size:]
        self._scrolls[scroll_id] = (rest, size)
        return {
            "hits": {"hits": [{"_source": d} for d in page]},
            "_scroll_id": scroll_id,
        }

    def clear_scroll(self, scroll_id: str) -> None:
        self._scrolls.pop(scroll_id, None)


# ---------------------------------------------------------------------------
# HTTP plumbing


class _StubServer:
    def __init__(self, route):
        #: every request received, in arrival order, as (method, path
        #: with its query string, body: decoded JSON, else the raw
        #: text, None when empty)
        self.requests: list[tuple[str, str, object]] = []
        handler_cls = _make_handler(route, self.requests)
        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler_cls)
        self.url = f"http://127.0.0.1:{self.httpd.server_address[1]}"
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def shutdown(self):
        self.httpd.shutdown()
        self.httpd.server_close()


def _make_handler(route, requests: list):
    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _handle(self):
            length = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(length) if length else b""
            try:
                body = json.loads(raw) if raw else None
            except ValueError:
                body = raw.decode()
            requests.append((self.command, self.path, body))
            try:
                payload = route(self.command, self.path, raw)
            except Exception as e:  # surface stub bugs as 500s
                payload = {"error": f"{type(e).__name__}: {e}"}
                body = json.dumps(payload).encode()
                self.send_response(500)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return
            body = json.dumps(payload).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        do_GET = do_POST = do_DELETE = _handle

    return Handler


def _parse(path: str) -> tuple[str, dict]:
    parsed = urllib.parse.urlparse(path)
    params = {k: v[0] for k, v in urllib.parse.parse_qs(parsed.query).items()}
    return parsed.path, params


class QuickwitStub(_StubServer):
    """Speaks the ES-compatible surface under /api/v1/_elastic plus
    /api/v1/indexes (discovery)."""

    def __init__(self, indexes: dict[str, list[dict]],
                 ts_fields: dict[str, str] | None = None):
        self.core = SearchCore(indexes, "quickwit", ts_fields)
        self.ts_fields = ts_fields or {}
        super().__init__(self._route)

    def _route(self, method: str, path: str, raw: bytes):
        path, params = _parse(path)
        body = json.loads(raw) if raw else None
        if path == "/api/v1/indexes":
            return [
                {
                    "index_config": {
                        "index_id": idx,
                        "doc_mapping": {
                            "timestamp_field": self.ts_fields.get(idx)
                        },
                    }
                }
                for idx in self.core.indexes
            ]
        if path == "/api/v1/_elastic/_search/scroll":
            if method == "DELETE":
                sid = body if isinstance(body, str) else (body or {}).get("scroll_id")
                self.core.clear_scroll(sid)
                return {}
            return self.core.scroll(body["scroll_id"])
        m = re.fullmatch(r"/api/v1/_elastic/([^/]+)/_search", path)
        if m:
            return self.core.search(m.group(1), body, params)
        m = re.fullmatch(r"/api/v1/_elastic/([^/]+)/_count", path)
        if m:
            return self.core.count(m.group(1), body)
        raise ValueError(f"stub: unknown route {path}")


class ElasticStub(_StubServer):
    def __init__(self, indexes: dict[str, list[dict]],
                 ts_fields: dict[str, str] | None = None):
        self.core = SearchCore(indexes, "elasticsearch", ts_fields)
        super().__init__(self._route)

    def _route(self, method: str, path: str, raw: bytes):
        path, params = _parse(path)
        body = json.loads(raw) if raw else None
        if path == "/_search/scroll":
            if method == "DELETE":
                sid = (body or {}).get("scroll_id")
                if isinstance(sid, list):
                    sid = sid[0] if sid else None
                self.core.clear_scroll(sid)
                return {}
            return self.core.scroll(body["scroll_id"])
        m = re.fullmatch(r"/([^/_][^/]*)/_search", path)
        if m:
            return self.core.search(m.group(1), body, params)
        m = re.fullmatch(r"/([^/_][^/]*)/_count", path)
        if m:
            return self.core.count(m.group(1), body)
        raise ValueError(f"stub: unknown route {path}")


# ---------------------------------------------------------------------------
# Splunk: SPL evaluation over stringified events


def _flatten(doc: dict, prefix: str = "") -> dict:
    out = {}
    for k, v in doc.items():
        key = f"{prefix}{k}"
        if isinstance(v, dict):
            out.update(_flatten(v, key + "."))
        elif isinstance(v, list):
            out[key] = json.dumps(v)
        elif isinstance(v, bool):
            out[key] = "true" if v else "false"
        else:
            out[key] = str(v)
    return out


def splunk_event(doc: dict, ts_field: str | None, serial: int) -> dict:
    row = _flatten(doc)
    row["_raw"] = json.dumps(doc)
    if ts_field:
        found, v = get_path(doc, ts_field)
        e = ts_epoch(v) if found else None
        row["_time"] = str(e if e is not None else 0)
    else:
        row["_time"] = "0"
    row["_serial"] = str(serial)
    row["_bkt"] = "stub~0"
    return row


_SEARCH_ATOM = re.compile(
    r'(?P<field>[\w.@-]+)(?P<op>!=|>=|<=|=|<|>)'
    r'(?P<val>CASE\("(?:[^"\\]|\\.)*"\)|"(?:[^"\\]|\\.)*"|[^\s()]+)'
)


class _SearchExpr:
    """Recursive-descent parser/evaluator for `| search` expressions
    (the emitter's grammar: atoms, AND/OR/NOT, parens)."""

    def __init__(self, text: str):
        self.text = text
        self.pos = 0

    def _skip(self):
        while self.pos < len(self.text) and self.text[self.pos] == " ":
            self.pos += 1

    def _lit(self, s: str) -> bool:
        self._skip()
        if self.text.startswith(s, self.pos):
            self.pos += len(s)
            return True
        return False

    def parse(self):
        node = self._or()
        self._skip()
        if self.pos != len(self.text):
            raise ValueError(f"spl stub: trailing input {self.text[self.pos:]!r}")
        return node

    def _or(self):
        parts = [self._and()]
        while self._lit("OR "):
            parts.append(self._and())
        return ("or", parts) if len(parts) > 1 else parts[0]

    def _and(self):
        parts = [self._unary()]
        while self._lit("AND "):
            parts.append(self._unary())
        return ("and", parts) if len(parts) > 1 else parts[0]

    def _unary(self):
        if self._lit("NOT "):
            return ("not", self._unary())
        if self._lit("("):
            node = self._or()
            if not self._lit(")"):
                raise ValueError("spl stub: expected )")
            return node
        self._skip()
        m = _SEARCH_ATOM.match(self.text, self.pos)
        if not m:
            raise ValueError(f"spl stub: bad atom at {self.text[self.pos:]!r}")
        self.pos = m.end()
        return ("atom", m.group("field"), m.group("op"), m.group("val"))


def _unquote(v: str) -> str:
    return v[1:-1].replace('\\"', '"').replace("\\\\", "\\")


def _eval_search_atom(row: dict, field: str, op: str, val: str) -> bool:
    if field not in row:
        return False
    rv = row[field]
    if val.startswith('CASE("'):
        want = _unquote(val[5:-1])
        return (rv == want) if op == "=" else (rv != want)
    if val.startswith('"'):
        want = _unquote(val)
    else:
        want = val
    if op in ("=", "!="):
        if want.endswith("*"):
            hit = rv.lower().startswith(want[:-1].lower())
        else:
            rn, wn = to_num(rv), to_num(want)
            hit = (rn == wn) if (rn is not None and wn is not None) else (
                rv.lower() == want.lower()
            )
        return hit if op == "=" else not hit
    rn, wn = to_num(rv), to_num(want)
    if rn is None or wn is None:
        c = (rv > want) - (rv < want)
    else:
        c = (rn > wn) - (rn < wn)
    return {">": c > 0, ">=": c >= 0, "<": c < 0, "<=": c <= 0}[op]


def _eval_search_node(node, row) -> bool:
    kind = node[0]
    if kind == "atom":
        return _eval_search_atom(row, node[1], node[2], node[3])
    if kind == "and":
        return all(_eval_search_node(c, row) for c in node[1])
    if kind == "or":
        return any(_eval_search_node(c, row) for c in node[1])
    return not _eval_search_node(node[1], row)


class _WhereExpr:
    """`| where` eval expressions the emitter produces: isnotnull(f),
    like(lower(f), "%v%"), like(f, "%v%"), f="v" / f=v, NOT/AND/OR."""

    def __init__(self, text: str):
        self.text = text
        self.pos = 0

    def _skip(self):
        while self.pos < len(self.text) and self.text[self.pos] == " ":
            self.pos += 1

    def _lit(self, s: str) -> bool:
        self._skip()
        if self.text.startswith(s, self.pos):
            self.pos += len(s)
            return True
        return False

    def parse(self):
        node = self._or()
        self._skip()
        if self.pos != len(self.text):
            raise ValueError(f"spl stub: trailing where input {self.text[self.pos:]!r}")
        return node

    def _or(self):
        parts = [self._and()]
        while self._lit("OR "):
            parts.append(self._and())
        return ("or", parts) if len(parts) > 1 else parts[0]

    def _and(self):
        parts = [self._unary()]
        while self._lit("AND "):
            parts.append(self._unary())
        return ("and", parts) if len(parts) > 1 else parts[0]

    def _unary(self):
        if self._lit("NOT "):
            return ("not", self._unary())
        self._skip()
        m = re.match(r"isnotnull\(([\w.@-]+)\)", self.text[self.pos:])
        if m:
            self.pos += m.end()
            return ("isnotnull", m.group(1))
        m = re.match(
            r'like\((lower\()?([\w.@-]+)\)?, "%((?:[^"\\]|\\.)*)%"\)',
            self.text[self.pos:],
        )
        if m:
            self.pos += m.end()
            pat = m.group(3).replace("\\%", "%").replace('\\"', '"').replace("\\\\", "\\")
            return ("like", m.group(2), pat, m.group(1) is not None)
        m = re.match(
            r'([\w.@-]+)=("(?:[^"\\]|\\.)*"|[^\s()]+)', self.text[self.pos:]
        )
        if m:
            self.pos += m.end()
            return ("eq", m.group(1), m.group(2))
        if self._lit("("):
            node = self._or()
            if not self._lit(")"):
                raise ValueError("spl stub: expected ) in where")
            return node
        raise ValueError(f"spl stub: bad where at {self.text[self.pos:]!r}")


def _eval_where_node(node, row) -> bool:
    kind = node[0]
    if kind == "and":
        return all(_eval_where_node(c, row) for c in node[1])
    if kind == "or":
        return any(_eval_where_node(c, row) for c in node[1])
    if kind == "not":
        return not _eval_where_node(node[1], row)
    if kind == "isnotnull":
        return node[1] in row
    if kind == "like":
        _, field, pat, lowered = node
        if field not in row:
            return False
        hay = row[field].lower() if lowered else row[field]
        return pat in hay
    if kind == "eq":
        _, field, val = node
        if field not in row:
            return False
        want = _unquote(val) if val.startswith('"') else val
        rn, wn = to_num(row[field]), to_num(want)
        if rn is not None and wn is not None:
            return rn == wn
        return row[field] == want
    raise ValueError(f"spl stub: bad where node {node!r}")


_STATS_AGG = re.compile(
    r"count\(eval\(isnotnull\(([\w.@-]+)\)\)\) as ([\w.@-]+)"
    r"|(min|max|sum|avg|dc)\(([\w.@-]+)\) as ([\w.@-]+)"
    r"|count as ([\w.@-]+)"
)


def _run_stats(rows: list[dict], aggs_text: str, by_fields: tuple) -> list[dict]:
    groups: dict = {}
    for row in rows:
        if any(f not in row for f in by_fields):
            continue  # Splunk stats by drops events missing a group field
        key = tuple(row[f] for f in by_fields)
        groups.setdefault(key, []).append(row)
    if not by_fields and not groups:
        groups[()] = []

    out = []
    for key, members in groups.items():
        res = dict(zip(by_fields, key))
        for part in aggs_text.split(", "):
            m = _STATS_AGG.fullmatch(part)
            if not m:
                raise ValueError(f"spl stub: bad stats agg {part!r}")
            if m.group(6):  # count as N
                res[m.group(6)] = str(len(members))
                continue
            if m.group(1):  # count(eval(isnotnull(f))) as N
                res[m.group(2)] = str(
                    sum(1 for r in members if m.group(1) in r)
                )
                continue
            op, field, name = m.group(3), m.group(4), m.group(5)
            vals = [to_num(r[field]) for r in members if field in r]
            vals = [v for v in vals if v is not None]
            if op == "dc":
                res[name] = str(len({r[field] for r in members if field in r}))
            elif not vals:
                pass  # Splunk omits the field for empty groups
            elif op == "min":
                res[name] = _fmt_num(min(vals))
            elif op == "max":
                res[name] = _fmt_num(max(vals))
            elif op == "sum":
                res[name] = _fmt_num(sum(vals))
            else:
                res[name] = _fmt_num(sum(vals) / len(vals))
        out.append(res)
    return out


def _fmt_num(v: float) -> str:
    return str(int(v)) if float(v).is_integer() else str(v)


def run_spl(spl: str, indexes: dict[str, list[dict]],
            ts_fields: dict[str, str]) -> list[dict]:
    """Evaluate the SPL pipeline SplunkHandle.build_spl emits."""
    parts = re.split(r" \| ", spl.strip())
    head = parts[0]

    m = re.match(
        r'\|?\s*tstats count as (\w+) where \((.*?)\)'
        r'(?: earliest=(\d+))?(?: latest=(\d+))?$',
        head,
    )
    if m:
        rows = _base_events(m.group(2), m.group(3), m.group(4), indexes, ts_fields)
        return [{m.group(1): str(len(rows))}]

    m = re.match(
        r'search \((.*?)\)(?: earliest=(\d+))?(?: latest=(\d+))?$', head
    )
    if not m:
        raise ValueError(f"spl stub: bad base search {head!r}")
    rows = _base_events(m.group(1), m.group(2), m.group(3), indexes, ts_fields)

    for op_text in parts[1:]:
        if op_text.startswith("search "):
            node = _SearchExpr(op_text[len("search "):]).parse()
            rows = [r for r in rows if _eval_search_node(node, r)]
        elif op_text.startswith("where "):
            node = _WhereExpr(op_text[len("where "):]).parse()
            rows = [r for r in rows if _eval_where_node(node, r)]
        elif op_text.startswith("sort "):
            for clause in reversed(op_text[len("sort "):].split(", ")):
                sign, field = clause[0], clause[1:]

                def key(r, f=field):
                    v = r.get(f, "")
                    n = to_num(v)
                    return (0, n, "") if n is not None else (1, 0.0, v)

                rows.sort(key=key, reverse=(sign == "-"))
        elif op_text.startswith("head "):
            rows = rows[: int(op_text[len("head "):])]
        elif op_text.startswith("stats "):
            body = op_text[len("stats "):]
            if " by " in body:
                aggs_text, by_text = body.rsplit(" by ", 1)
                by_fields = tuple(by_text.split(", "))
            else:
                aggs_text, by_fields = body, ()
            rows = _run_stats(rows, aggs_text, by_fields)
        elif op_text.startswith("rename "):
            for pair in op_text[len("rename "):].split(", "):
                frm, to = pair.split(" as ")
                rows = [
                    {**{k: v for k, v in r.items() if k != frm},
                     **({to: r[frm]} if frm in r else {})}
                    for r in rows
                ]
        elif op_text.startswith("rex field="):
            m2 = re.match(r'rex field=([\w.@-]+) "(.*)"$', op_text)
            if not m2:
                raise ValueError(f"spl stub: bad rex {op_text!r}")
            field, pattern = m2.groups()
            pattern = re.sub(r"\(\?<(\w+)>", r"(?P<\1>", pattern)
            for r in rows:
                if field in r:
                    hit = re.search(pattern, r[field])
                    if hit:
                        for name, val in hit.groupdict().items():
                            if val is not None:
                                r[name] = val
        elif op_text.startswith("fields - "):
            drop = op_text[len("fields - "):].split(", ")
            rows = [{k: v for k, v in r.items() if k not in drop} for r in rows]
        else:
            raise ValueError(f"spl stub: unsupported op {op_text!r}")
    return rows


def _base_events(index_expr: str, earliest, latest,
                 indexes: dict[str, list[dict]],
                 ts_fields: dict[str, str]) -> list[dict]:
    names = re.findall(r'index="((?:[^"\\]|\\.)*)"', index_expr)
    serial = itertools.count()
    rows = []
    for name in names:
        if name not in indexes:
            raise KeyError(f"spl stub: unknown index {name!r}")
        for doc in indexes[name]:
            rows.append(splunk_event(doc, ts_fields.get(name), next(serial)))
    if earliest is not None:
        rows = [r for r in rows if float(r["_time"]) >= int(earliest)]
    if latest is not None:
        rows = [r for r in rows if float(r["_time"]) < int(latest)]
    # Splunk returns events newest-first by default (what the skipped
    # `sort -_time` in apply_topn relies on, splunk/mod.rs:1223)
    rows.sort(key=lambda r: float(r["_time"]), reverse=True)
    return rows


class SplunkStub(_StubServer):
    """Job-protocol stub: POST jobs evaluates the SPL eagerly; polls
    report DONE immediately; results page with offset/count.

    ``preview_polls=N`` makes each job report RUNNING for its first N
    status polls, during which ``/results_preview`` serves a GROWING
    PREFIX of the final rows (poll k of N → the first k/(N+1) share) —
    the accumulate-then-finalize behavior a live Splunk shows to the
    preview-streaming path (query_runner.rs poll_with_previews)."""

    def __init__(self, indexes: dict[str, list[dict]],
                 ts_fields: dict[str, str] | None = None,
                 preview_polls: int = 0):
        self.indexes = indexes
        self.ts_fields = ts_fields or {}
        self.preview_polls = preview_polls
        self.jobs: dict[str, list[dict]] = {}
        self.polls: dict[str, int] = {}
        self.spls: list[str] = []
        self._ids = itertools.count(1)
        super().__init__(self._route)

    def _route(self, method: str, path: str, raw: bytes):
        path, params = _parse(path)
        if path == "/services/search/jobs" and method == "POST":
            form = urllib.parse.parse_qs(raw.decode())
            spl = form["search"][0]
            self.spls.append(spl)
            sid = f"job{next(self._ids)}"
            self.jobs[sid] = run_spl(spl, self.indexes, self.ts_fields)
            self.polls[sid] = 0
            return {"sid": sid}
        m = re.fullmatch(r"/services/search/jobs/([^/]+)", path)
        if m:
            sid = m.group(1)
            rows = self.jobs[sid]
            self.polls[sid] += 1
            done = self.polls[sid] > self.preview_polls
            return {
                "entry": [
                    {
                        "content": {
                            "isDone": done,
                            "dispatchState": "DONE" if done else "RUNNING",
                            "resultCount": len(rows),
                        }
                    }
                ]
            }
        m = re.fullmatch(r"/services/search/jobs/([^/]+)/results(_preview)?", path)
        if m:
            sid = m.group(1)
            rows = self.jobs[sid]
            if m.group(2) and self.preview_polls:
                # growing prefix while RUNNING
                k = min(self.polls.get(sid, 0), self.preview_polls)
                rows = rows[: len(rows) * k // (self.preview_polls + 1)]
            offset = int(params.get("offset", 0))
            count = int(params.get("count", 100))
            return {"results": rows[offset : offset + count]}
        raise ValueError(f"spl stub: unknown route {path}")
