"""KQL recursive-descent parser → miso_spark.plan.Plan.

Grammar parity: miso-kql/src/parser.rs —
``query := let* scan ('|' step)*`` where
``let := 'let' ident '=' query ';'`` and
``scan := ident['.' ident ['.' 'raw' '(' string ')']]``
(bare ident scans a let-bound variable).

Operator precedence (low→high): or, and, in, comparisons/string-ops/
between, add/sub, mul/div, unary not/minus, primary.
"""

from __future__ import annotations

from datetime import datetime, timezone

from miso_spark import plan as P
from miso_spark.exprs import (
    Between,
    Bin,
    BinOp,
    Case,
    Cast,
    Duration,
    Exists,
    Expr,
    Extract,
    Field,
    In,
    Lit,
    Not,
    Now,
)
from miso_spark.fields import FieldPath
from miso_spark.kql.lexer import KEYWORDS as _ALL_KEYWORDS
from miso_spark.kql.lexer import Token, tokenize


class ParseError(ValueError):
    pass


class ParseErrors(ParseError):
    """Every parse error of a query (the reference's parser collects
    every step's error rather than stopping at the first —
    parser_tests.rs test_error_recovery_collects_multiple_errors).
    Recovery granularity here is per pipeline step."""

    def __init__(self, errors: list[ParseError]):
        self.errors = errors
        super().__init__("; ".join(str(e) for e in errors))


_CMP_OPS = {
    "==": "eq",
    "!=": "ne",
    ">": "gt",
    ">=": "gte",
    "<": "lt",
    "<=": "lte",
    "contains": "contains",
    "startswith": "startswith",
    "endswith": "endswith",
    "has": "has",
    "has_cs": "has_cs",
}

# Reference cast semantics (miso-kql/src/parser.rs:663-664): ToInt and
# ToLong both lower to CastType::Int (i64); ToReal and ToDecimal both
# lower to CastType::Float (f64). Map accordingly so toint/todecimal
# match reference results for |x| >= 2^31 and float rounding.
_CASTS = {
    "tobool": "bool",
    "toint": "long",
    "tolong": "long",
    "toreal": "float",
    "todecimal": "float",
    "tostring": "string",
}

_AGG_KEYWORDS = {"count", "countif", "dcount", "sum", "avg", "min", "max"}

#: keyword tokens usable as identifiers (parser.rs ident_parser):
#: everything except boolean operators and the bool literals
_IDENT_KEYWORDS = _ALL_KEYWORDS - {"and", "or", "not", "true", "false", "null"}

#: function-style keywords: parsed as calls only when followed by "(",
#: otherwise they act as plain field names (the reference resolves the
#: same ambiguity by trying the call grammar first)
_FUNC_KEYWORDS = {"now", "exists", "iff", "case", "bin", "extract", *_CASTS}


_DT_NOW = object()  # sentinel: datetime() with no argument means now()


def _parse_datetime_literal(text: str) -> object:
    """Accepts ISO-8601 (date, date-time, offsets, millis) and RFC 2822
    — the formats the reference's datetime() accepts. Empty → now,
    null → null."""
    text = text.strip().strip("\"'")
    if not text:
        return _DT_NOW
    if text == "null":
        return None
    try:
        dt = datetime.fromisoformat(text.replace("Z", "+00:00"))
    except ValueError:
        try:
            from email.utils import parsedate_to_datetime

            dt = parsedate_to_datetime(text)
        except (ValueError, TypeError):
            raise ParseError(f"cannot parse datetime literal {text!r}") from None
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


class Parser:
    def __init__(self, tokens: list[Token]):
        self.toks = tokens
        self.i = 0

    # -- token helpers ----------------------------------------------------
    def peek(self, k: int = 0) -> Token:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> Token:
        t = self.toks[self.i]
        if t.kind != "eof":
            self.i += 1
        return t

    def accept(self, kind: str) -> Token | None:
        if self.peek().kind == kind:
            return self.next()
        return None

    def expect(self, kind: str) -> Token:
        t = self.peek()
        if t.kind != kind:
            raise ParseError(f"expected {kind!r}, got {t.kind!r} at pos {t.pos}")
        return self.next()

    # Keywords double as identifiers in field/name positions, exactly
    # like the reference's ident_parser (miso-kql/src/parser.rs:152-224
    # converts every keyword token except and/or/not and the Bool
    # literals back to its identifier spelling).
    @staticmethod
    def _is_ident_tok(t: Token) -> bool:
        return t.kind == "ident" or t.kind in _IDENT_KEYWORDS

    def _expect_ident_like(self) -> str:
        t = self.peek()
        if t.kind == "ident":
            return str(self.next().value)
        if t.kind in _IDENT_KEYWORDS:
            self.next()
            return t.kind
        raise ParseError(f"expected identifier, got {t.kind!r} at pos {t.pos}")

    # -- query ------------------------------------------------------------
    def parse_query(self) -> list[P.Step]:
        steps = self.parse_query_prefix()
        while self.accept("|"):
            steps.append(self.parse_step())
        return steps

    def parse_query_prefix(self) -> list[P.Step]:
        """Let bindings + the initial scan, without the step loop —
        the error-recovering driver owns the top-level ``|`` loop."""
        steps: list[P.Step] = []
        while self.peek().kind == "let":
            self.next()
            name = self.expect("ident").value
            self.expect("=")
            sub = self.parse_query()
            self.expect(";")
            steps.append(P.Let(str(name), P.Plan(tuple(sub))))
        steps.append(self.parse_scan())
        return steps

    def parse_scan(self) -> P.Step:
        connector = self._expect_ident_like()
        if self.peek().kind == "." and self._is_ident_tok(self.peek(1)):
            self.next()
            collection = self._expect_ident_like()
            if self.peek().kind == "." and self.peek(1).kind == "raw":
                self.next()
                self.next()
                self.expect("(")
                q = str(self.expect("string").value)
                self.expect(")")
                return P.ScanRaw(connector, collection, q)
            return P.Scan(connector, collection)
        return P.ScanVar(connector)

    # -- steps ------------------------------------------------------------
    def parse_step(self) -> P.Step:
        t = self.next()
        k = t.kind
        if k in ("where", "filter"):
            return P.Filter(self.parse_expr())
        if k == "project":
            return P.Project(tuple(self._project_fields()))
        if k == "extend":
            return P.Extend(tuple(self._project_fields()))
        if k == "project-rename":
            pairs = []
            while True:
                to = str(self._field().path)
                self.expect("=")
                frm = str(self._field().path)
                pairs.append((frm, to))
                if not self.accept(","):
                    break
            return P.Rename(tuple(pairs))
        if k == "mv-expand":
            kind = "bag"
            if self.peek().kind == "kind" and self.peek(1).kind == "=":
                self.next()
                self.expect("=")
                kt = self.next()
                if kt.kind not in ("bag", "array"):
                    raise ParseError(f"mv-expand kind must be bag|array, got {kt.kind}")
                kind = kt.kind
            fields = [str(self._field().path)]
            while self.accept(","):
                fields.append(str(self._field().path))
            return P.Expand(tuple(fields), kind)
        if k in ("limit", "take"):
            return P.Limit(int(self.expect("int").value))
        if k in ("sort", "order"):
            self.expect("by")
            return P.SortStep(tuple(self._sort_exprs()))
        if k == "top":
            n = int(self.expect("int").value)
            self.expect("by")
            return P.Top(tuple(self._sort_exprs()), n)
        if k == "summarize":
            return self._summarize()
        if k == "distinct":
            # `distinct f1, f2` IS `summarize by f1, f2` — lowered at
            # the frontend exactly like the reference
            # (query_to_workflow.rs:146), so null group keys drop on
            # every execution path. Field-less `distinct *` keeps the
            # Distinct step (all-columns dedup has no static by-list).
            if self.peek().kind == "*":
                self.next()
                return P.Distinct(())
            if self._is_ident_tok(self.peek()):
                fields = [str(self._field().path)]
                while self.accept(","):
                    fields.append(str(self._field().path))
                return P.distinct_to_summarize(fields)
            return P.Distinct(())
        if k == "union":
            self.expect("(")
            sub = self.parse_query()
            self.expect(")")
            return P.Union(P.Plan(tuple(sub)))
        if k == "join":
            return self._join()
        if k == "count":
            return P.CountStep()
        if k in ("tee", "write"):
            connector = self._expect_ident_like()
            self.expect(".")
            collection = self._expect_ident_like()
            cls = P.Tee if k == "tee" else P.Write
            return cls(connector, collection)
        raise ParseError(f"unknown query step {k!r} at pos {t.pos}")

    def _assign_target(self) -> str | None:
        """A (possibly dotted) field path followed by ``=`` (not
        ``==``) — ProjectField.to is a full Field in the reference
        (query.rs ProjectField, interpreter insert_field_value creates
        nested paths). Consumes the path and the ``=`` when matched."""
        j = 0
        parts = 0
        while True:
            if not self._is_ident_tok(self.peek(j)):
                return None
            j += 1
            parts += 1
            if self.peek(j).kind != ".":
                break
            j += 1
        if self.peek(j).kind != "=" or self.peek(j + 1).kind == "=":
            return None
        names = []
        for _ in range(parts):
            names.append(self._expect_ident_like())
            self.accept(".")
        self.next()  # '='
        return ".".join(names)

    def _project_fields(self) -> list[P.ProjectField]:
        out: list[P.ProjectField] = []
        used: set[str] = set()
        while True:
            name = self._assign_target()
            e = self.parse_expr()
            if name is not None:
                name = _unique_name(name, name, used)
            else:
                default = _expr_default_name(e)
                if default is not None:
                    name = _unique_name(default, default, used)
                else:
                    name = _unique_name("Column", "Column1", used)
            out.append(P.ProjectField(e, name))
            if not self.accept(","):
                break
        return out

    def _sort_exprs(self) -> list[P.Sort]:
        out = []
        while True:
            by = str(self._field().path)
            order = "asc"
            nulls = "last"
            if self.peek().kind in ("asc", "desc"):
                order = self.next().kind
            if self.peek().kind == "nulls":
                self.next()
                nt = self.next()
                if nt.kind not in ("first", "last"):
                    raise ParseError("nulls must be first|last")
                nulls = nt.kind
            out.append(P.Sort(by, order, nulls))
            if not self.accept(","):
                break
        return out

    def _summarize(self) -> P.SummarizeStep:
        aggs: list[tuple[str | None, P.Agg]] = []
        if (self.peek().kind in _AGG_KEYWORDS and self.peek(1).kind == "(") or (
            self._is_ident_tok(self.peek()) and self.peek(1).kind == "="
        ):
            while True:
                name = None
                if self._is_ident_tok(self.peek()) and self.peek(1).kind == "=":
                    name = self._expect_ident_like()
                    self.next()
                aggs.append((name, self._agg()))
                if not self.accept(","):
                    break
        by: list[P.ByField] = []
        if self.accept("by"):
            used: set[str] = set()
            while True:
                name = None
                if self._is_ident_tok(self.peek()) and self.peek(1).kind == "=":
                    name = self._expect_ident_like()
                    self.next()
                e = self.parse_expr()
                if name is not None:
                    name = _unique_name(name, name, used)
                else:
                    default = _expr_default_name(e)
                    if default is not None:
                        name = _unique_name(default, default, used)
                    else:
                        name = _unique_name("Column", "Column1", used)
                by.append(P.ByField(e, name))
                if not self.accept(","):
                    break
        # default agg names (parser.rs agg_default_name): explicitly
        # named aggs claim their names first, then unnamed ones pick
        # unique defaults — matching the reference's two-pass naming
        named: dict[str, P.Agg] = {}
        order: list[tuple[str | None, P.Agg]] = []
        for name, agg in aggs:
            if name is not None:
                if name in named:
                    raise ParseError(f"duplicate aggregation name {name!r}")
                named[name] = agg
            order.append((name, agg))
        out: list[tuple[str, P.Agg]] = []
        for name, agg in order:
            if name is None:
                base = _agg_default_name(agg)
                name, c = base, 0
                while name in named:
                    c += 1
                    name = f"{base}{c}"
                named[name] = agg
            out.append((name, agg))
        # an aggregation sharing a BY key's output name is a query
        # error (deliberate divergence, found by the r11 DuckDB
        # fuzzer: the reference's BTreeMap output silently clobbers
        # one of the two — summarize.rs output insert — while a
        # duplicate column here surfaced as an obscure Spark
        # COLUMN_ALREADY_EXISTS failure; a positioned ParseError is
        # strictly better than either)
        clash = set(named) & {bf.name for bf in by}
        if clash:
            raise ParseError(
                "summarize output name used by both an aggregation and"
                f" a by key: {', '.join(sorted(clash))}"
            )
        return P.SummarizeStep(tuple(out), tuple(by))

    def _agg(self) -> P.Agg:
        t = self.next()
        k = t.kind
        if k not in _AGG_KEYWORDS:
            raise ParseError(f"expected aggregation, got {k!r}")
        self.expect("(")
        if k == "count":
            self.expect(")")
            return P.Agg("count")
        if k == "countif":
            e = self.parse_expr()
            self.expect(")")
            return P.Agg("countif", e)
        e = self.parse_expr()
        self.expect(")")
        return P.Agg(k, e)

    def _join(self) -> P.JoinStep:
        how = "inner"
        partitions = 1
        if self.peek().kind == "kind":
            self.next()
            self.expect("=")
            kt = self.next()
            if kt.kind not in ("inner", "outer", "left", "right"):
                raise ParseError(f"bad join kind {kt.kind!r}")
            how = kt.kind
        if self.peek().kind == "hint":
            self.next()
            self.expect(".")
            self.expect("partitions")
            self.expect("=")
            partitions = int(self.expect("int").value)
            if partitions <= 0:
                # parser.rs:1188 parity
                raise ParseError(
                    "partition count must be positive. Use 'hint.partitions=2' or similar"
                )
        self.expect("(")
        sub = self.parse_query()
        self.expect(")")
        self.expect("on")
        left_on, right_on = self._join_condition()
        return P.JoinStep(left_on, right_on, P.Plan(tuple(sub)), how, partitions)

    def _join_condition(self) -> tuple[str, str]:
        if self.peek().kind == "$":
            sides: dict[str, str] = {}
            for nth in range(2):
                self.expect("$")
                side = self.next()
                if side.kind not in ("left", "right"):
                    raise ParseError("join condition must use $left/$right")
                self.expect(".")
                sides[side.kind] = str(self._field().path)
                if nth == 0:
                    self.expect("==")
            if set(sides) != {"left", "right"}:
                raise ParseError("join condition needs one $left and one $right side")
            return sides["left"], sides["right"]
        f = str(self._field().path)
        return f, f

    # -- expressions ------------------------------------------------------
    def parse_expr(self) -> Expr:
        return self._or_expr()

    def _or_expr(self) -> Expr:
        e = self._and_expr()
        while self.accept("or"):
            e = BinOp("or", e, self._and_expr())
        return e

    def _and_expr(self) -> Expr:
        e = self._in_expr()
        while self.accept("and"):
            e = BinOp("and", e, self._in_expr())
        return e

    def _in_expr(self) -> Expr:
        e = self._cmp_expr()
        if self.accept("in"):
            self.expect("(")
            items = [self.parse_expr()]
            while self.accept(","):
                items.append(self.parse_expr())
            self.expect(")")
            return In(e, tuple(items))
        return e

    def _cmp_expr(self) -> Expr:
        e = self._add_expr()
        k = self.peek().kind
        if k in _CMP_OPS:
            self.next()
            return BinOp(_CMP_OPS[k], e, self._add_expr())
        if k in ("between", "!between"):
            self.next()
            negated = k == "!between"
            self.expect("(")
            low = self.parse_expr()
            self.expect("..")
            high = self.parse_expr()
            self.expect(")")
            return Between(e, low, high, negated)
        return e

    def _add_expr(self) -> Expr:
        e = self._mul_expr()
        while self.peek().kind in ("+", "-"):
            op = "add" if self.next().kind == "+" else "sub"
            e = BinOp(op, e, self._mul_expr())
        return e

    def _mul_expr(self) -> Expr:
        e = self._unary()
        while self.peek().kind in ("*", "/"):
            op = "mul" if self.next().kind == "*" else "div"
            e = BinOp(op, e, self._unary())
        return e

    def _unary(self) -> Expr:
        if self.accept("not"):
            return Not(self._unary())
        if self.accept("-"):
            inner = self._unary()
            if isinstance(inner, Lit) and isinstance(inner.value, (int, float)):
                return Lit(-inner.value)
            return BinOp("sub", Lit(0), inner)
        return self._primary()

    def _primary(self) -> Expr:
        t = self.peek()
        k = t.kind
        if k == "(":
            self.next()
            e = self.parse_expr()
            self.expect(")")
            return e
        if k == "int" or k == "float":
            self.next()
            return Lit(t.value)
        if k == "string":
            self.next()
            return Lit(t.value)
        if k == "bytestring":
            # parser.rs:482 parity: the lexer recognizes h/H-prefixed
            # hex strings but the engine rejects them, verbatim message
            raise ParseError(
                "byte strings are currently not supported. Use regular "
                f"strings with double quotes at pos {t.pos}"
            )
        if k == "timespan":
            self.next()
            return Duration(float(t.value))  # type: ignore[arg-type]
        if k == "datetime_lit":
            self.next()
            v = _parse_datetime_literal(str(t.value))
            return Now() if v is _DT_NOW else Lit(v)
        if k == "null":
            self.next()
            return Lit(None)
        if k == "true":
            self.next()
            return Lit(True)
        if k == "false":
            self.next()
            return Lit(False)
        if k in _FUNC_KEYWORDS and self.peek(1).kind != "(":
            # a function keyword with no call syntax is a field name
            return self._field()
        if k == "now":
            self.next()
            self.expect("(")
            self.expect(")")
            return Now()
        if k == "exists":
            self.next()
            self.expect("(")
            e = self.parse_expr()
            self.expect(")")
            return Exists(e)
        if k == "iff":
            self.next()
            self.expect("(")
            c = self.parse_expr()
            self.expect(",")
            a = self.parse_expr()
            self.expect(",")
            b = self.parse_expr()
            self.expect(")")
            return Case(((c, a),), b)
        if k == "case":
            self.next()
            self.expect("(")
            parts = [self.parse_expr()]
            while self.accept(","):
                parts.append(self.parse_expr())
            self.expect(")")
            if len(parts) < 3 or len(parts) % 2 == 0:
                raise ParseError("case requires cond,val pairs plus a default")
            branches = tuple(
                (parts[i], parts[i + 1]) for i in range(0, len(parts) - 1, 2)
            )
            return Case(branches, parts[-1])
        if k == "bin":
            self.next()
            self.expect("(")
            e = self.parse_expr()
            self.expect(",")
            size = self.parse_expr()
            self.expect(")")
            return Bin(e, size)
        if k == "extract":
            self.next()
            self.expect("(")
            pat = self.parse_expr()
            self.expect(",")
            grp = self.parse_expr()
            self.expect(",")
            src = self.parse_expr()
            self.expect(")")
            return Extract(pat, grp, src)
        if k in _CASTS:
            self.next()
            self.expect("(")
            e = self.parse_expr()
            self.expect(")")
            return Cast(_CASTS[k], e)
        if k == "ident" or k in _IDENT_KEYWORDS:
            return self._field()
        raise ParseError(f"unexpected token {k!r} at pos {t.pos}")

    def _field(self) -> Field:
        parts = []
        while True:
            seg = self._expect_ident_like()
            while self.peek().kind == "[" and self.peek(1).kind == "int":
                self.next()
                seg += f"[{self.expect('int').value}]"
                self.expect("]")
            parts.append(seg)
            if self.peek().kind == "." and self._is_ident_tok(self.peek(1)):
                self.next()
                continue
            break
        return Field(FieldPath.parse(".".join(parts)))


def _unique_name(base: str, initial: str, used: set[str]) -> str:
    """parser.rs generate_unique_name: try ``initial``, then base+1,
    base+2, ... until free."""
    cand, c = initial, 0
    while cand in used:
        c += 1
        cand = f"{base}{c}"
    used.add(cand)
    return cand


def _expr_default_name(e: Expr) -> str | None:
    """parser.rs expr_default_name: Field→name, Cast/Bin→inner name."""
    if isinstance(e, Field):
        return str(e.path)
    if isinstance(e, Cast):
        return _expr_default_name(e.expr)
    if isinstance(e, Bin):
        return _expr_default_name(e.expr)
    return None


def _agg_default_name(agg: P.Agg) -> str:
    """parser.rs agg_default_name."""
    if agg.kind == "count":
        return "count_"
    if agg.kind == "countif":
        return "countif_"
    arg = ""
    if agg.arg is not None and isinstance(agg.arg, Field):
        arg = str(agg.arg.path).replace(".", "_")
    return f"{agg.kind}_{arg}"


def parse_kql(text: str) -> P.Plan:
    """Parse KQL to a Plan. A failed step is recorded and parsing
    resumes at the next ``|``, so ALL broken steps surface in one
    ``ParseErrors``, like the reference's error-recovering parser."""
    p = Parser(tokenize(text))
    steps: list[P.Step] = []
    errors: list[ParseError] = []

    def skip_to_pipe() -> None:
        while p.peek().kind not in ("|", ";", "eof"):
            p.next()

    try:
        steps.extend(p.parse_query_prefix())
    except ParseError as e:
        errors.append(_with_line_col(e, text))
        skip_to_pipe()
    while p.peek().kind == "|":
        p.next()
        try:
            steps.append(p.parse_step())
        except ParseError as e:
            errors.append(_with_line_col(e, text))
            skip_to_pipe()
    if not errors and p.peek().kind != "eof":
        errors.append(
            _with_line_col(
                ParseError(f"trailing input at pos {p.peek().pos}: {p.peek().kind!r}"),
                text,
            )
        )
    if errors:
        raise ParseErrors(errors)
    return P.Plan(tuple(steps))


def _with_line_col(e: ParseError, text: str) -> ParseError:
    """Annotate ``at pos N`` errors with 1-based line/column, like the
    reference's errors (parser_tests.rs
    test_parse_error_includes_line_and_column)."""
    import re as _re

    m = _re.search(r"at pos (\d+)", str(e))
    if not m:
        return e
    pos = int(m.group(1))
    line = text.count("\n", 0, pos) + 1
    col = pos - (text.rfind("\n", 0, pos) + 1) + 1
    return ParseError(f"{e} (line {line}, column {col})")
