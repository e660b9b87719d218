"""Tiny Go text/template subset for the HTTP sink body.

The reference's HTTP writer renders its POST body through Go's
text/template with two extra funcs, ``json`` and ``len``
(writer/http/http.go:134-143); the default template is
``{ "table_name": "{{ .ModelName }}", "rows": {{ json .Rows }} }``
(models/generator_output.go:17). This renderer covers the subset those
templates use: dotted field access, ``json``/``len`` calls,
``index EXPR i``, and ``range``/``end`` loops (with ``.`` rebinding).
"""

from __future__ import annotations

import datetime as _dt
import json as _json
import re
from typing import Any


def _json_default(v: Any) -> Any:
    """Match Go's json.Marshal of a UTC time.Time: RFC3339Nano ending in
    ``Z``, the fraction's trailing zeros trimmed (an aware datetime
    converted to UTC, a naive one taken as UTC)."""
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="seconds") + f".{v.microsecond:06}".rstrip(".0") + "Z"
    if isinstance(v, _dt.date):
        return v.isoformat()
    return str(v)

_TOKEN = re.compile(r"\{\{(-)?\s*(.*?)\s*(-)?\}\}", flags=re.S)


class TemplateError(ValueError):
    pass


def _lookup(ctx: Any, dotted: str) -> Any:
    """Resolve `.A.B.C` against dicts/objects; bare `.` is the context."""
    cur = ctx
    path = dotted.strip()
    if path == ".":
        return cur
    if not path.startswith("."):
        raise TemplateError(f"expected field path, got {path!r}")
    for part in path[1:].split("."):
        if part == "":
            continue
        if isinstance(cur, dict):
            if part not in cur:
                raise TemplateError(f"no field {part!r} in {sorted(cur)}")
            cur = cur[part]
        else:
            cur = getattr(cur, part)
    return cur


def _eval(expr: str, ctx: Any) -> Any:
    expr = expr.strip()
    if expr.startswith("."):
        return _lookup(ctx, expr)
    if expr.startswith('"') and expr.endswith('"'):
        return expr[1:-1]
    if re.fullmatch(r"-?\d+", expr):
        return int(expr)
    m = re.match(r"(json|len|index)\s+(.*)", expr, flags=re.S)
    if m:
        fn, rest = m.group(1), m.group(2).strip()
        if fn == "index":
            parts = rest.rsplit(None, 1)
            if len(parts) != 2:
                raise TemplateError(f"index needs two args: {expr!r}")
            seq = _eval(parts[0], ctx)
            i = _eval(parts[1], ctx)
            return seq[i]
        arg = _eval(rest, ctx)
        if fn == "json":
            return _json.dumps(arg, default=_json_default)
        return len(arg)
    raise TemplateError(f"unsupported template expression: {expr!r}")


def _parse(parts: list[tuple[str, str]], i: int) -> tuple[list[tuple], int]:
    """parts[i:] -> node tree until a matching `end`."""
    nodes: list[tuple] = []
    while i < len(parts):
        kind, payload = parts[i]
        if kind == "text":
            nodes.append(("text", payload))
            i += 1
            continue
        action = payload.strip()
        if action == "end":
            return nodes, i + 1
        if action.startswith("range"):
            children, i = _parse(parts, i + 1)
            nodes.append(("range", action[len("range") :], children))
            continue
        nodes.append(("expr", action))
        i += 1
    return nodes, i


def _exec(nodes: list[tuple], ctx: Any, out: list[str]) -> None:
    for node in nodes:
        if node[0] == "text":
            out.append(node[1])
        elif node[0] == "range":
            for item in _eval(node[1], ctx):
                _exec(node[2], item, out)
        else:
            val = _eval(node[1], ctx)
            out.append(val if isinstance(val, str) else _json.dumps(val, default=_json_default))


def render(template: str, ctx: Any) -> str:
    # split: text, then (`{{-`, action, `-}}`, text) per action
    pieces = _TOKEN.split(template)
    parts: list[tuple[str, str]] = []
    for i in range(0, len(pieces), 4):
        text = pieces[i]
        if i and pieces[i - 1]:  # a preceding `-}}` trims our leading whitespace
            text = text.lstrip()
        if i + 1 < len(pieces) and pieces[i + 1]:  # `{{-` trims trailing whitespace before it
            text = text.rstrip()
        if text:
            parts.append(("text", text))
        if i + 2 < len(pieces):
            parts.append(("action", pieces[i + 2]))
    nodes, _ = _parse(parts, 0)
    out: list[str] = []
    _exec(nodes, ctx, out)
    return "".join(out)


DEFAULT_BODY_TEMPLATE = '{ "table_name": "{{ .ModelName }}", "rows": {{ json .Rows }} }'
