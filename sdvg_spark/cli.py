"""Command-line surface.

Mirrors the reference CLI (SURVEY.md §2.5; cli/commands/generate/
generate.go:37-174): ``generate [--force] [--continue-generation] PATH``,
``validate-config PATH``, ``generate-config {description,sql-query,
data-sample}``, ``serve``, ``version``.
"""

from __future__ import annotations

import argparse
import json
import sys

from sdvg_spark import __version__


def _load_raw(path: str) -> dict:
    from sdvg_spark.config.model import load_raw_config

    return load_raw_config(path)


class ProgressBar:
    """Terminal progress bars, one per model (reference
    cli/progress/bar.go). On a TTY each update redraws the current
    model's bar in place (``\\r``); on a pipe it degrades to one line
    per update so logs stay readable."""

    WIDTH = 32

    def __init__(self, stream=None, isatty: bool | None = None):
        self.stream = stream if stream is not None else sys.stderr
        self.isatty = (
            isatty if isatty is not None else getattr(self.stream, "isatty", lambda: False)()
        )
        self._last_model: str | None = None

    def update(self, model: str, frac: float) -> None:
        frac = min(max(frac, 0.0), 1.0)
        filled = int(self.WIDTH * frac)
        bar = "#" * filled + "-" * (self.WIDTH - filled)
        line = f"{model:<16} [{bar}] {frac * 100:5.1f}%"
        if self.isatty:
            if self._last_model not in (None, model):
                self.stream.write("\n")  # finish the previous model's bar
            self.stream.write("\r" + line)
            if frac >= 1.0:
                self.stream.write("\n")
                model = None  # type: ignore[assignment]
            self.stream.flush()
        else:
            self.stream.write(line + "\n")
        self._last_model = model


def cmd_generate(args: argparse.Namespace) -> int:
    from sdvg_spark.backup import ConflictError
    from sdvg_spark.jobs import run_generate

    raw = _load_raw(args.config)
    bar = ProgressBar()

    try:
        written = run_generate(
            raw,
            force=args.force,
            continue_generation=args.continue_generation,
            on_progress=bar.update,
        )
    except ConflictError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    for model, path in written.items():
        print(f"{model}: {path}")
    return 0


def cmd_validate(args: argparse.Namespace) -> int:
    from sdvg_spark.config.model import ConfigError

    try:
        from sdvg_spark.config.model import parse_config

        parse_config(_load_raw(args.config))
    except ConfigError as e:
        print(f"invalid: {e}", file=sys.stderr)
        return 1
    print("ok")
    return 0


def interactive_config(ask=None, say=print) -> dict:
    """Prompt-driven config builder (reference's interactive
    generate-config flow). Injectable ``ask``/``say`` keep it testable
    and reusable from other frontends."""
    if ask is None:
        ask = input  # resolved at call time (test monkeypatching works)

    def ask_default(prompt: str, default: str) -> str:
        v = ask(f"{prompt} [{default}]: ").strip()
        return v or default

    raw: dict = {"models": {}}
    seed = ask_default("random seed (0 = from clock)", "0")
    raw["random_seed"] = int(seed or 0)
    out_type = ask_default("output type (devnull/csv/parquet)", "parquet")
    raw["output"] = {"type": out_type}
    if out_type in ("csv", "parquet"):
        raw["output"]["dir"] = ask_default("output dir", "output")
    while True:
        mname = ask("model name (empty to finish): ").strip()
        if not mname:
            break
        rows = int(ask_default(f"{mname}: rows_count", "1000"))
        columns: list[dict] = []
        while True:
            cname = ask(f"{mname}: column name (empty to finish): ").strip()
            if not cname:
                break
            fk = ask(f"{mname}.{cname}: foreign key (model.column, empty for none): ").strip()
            if fk:
                columns.append({"name": cname, "foreign_key": fk})
                continue
            ctype = ask_default(
                f"{mname}.{cname}: type (integer/float/string/datetime/uuid)", "integer"
            )
            col: dict = {"name": cname, "type": ctype}
            if ctype in ("integer", "float"):
                lo = ask_default(f"{mname}.{cname}: from", "0")
                hi = ask_default(f"{mname}.{cname}: to", "1000000")
                col["type_params"] = {
                    "from": float(lo) if ctype == "float" else int(lo),
                    "to": float(hi) if ctype == "float" else int(hi),
                }
            elif ctype == "string":
                logical = ask(
                    f"{mname}.{cname}: logical type (first_name/last_name/phone/text, "
                    "empty for plain): "
                ).strip()
                if logical:
                    col["type_params"] = {"logical_type": logical}
            columns.append(col)
        raw["models"][mname] = {"rows_count": rows, "columns": columns}
    say(f"built config with {len(raw['models'])} model(s)")
    return raw


def cmd_generate_config(args: argparse.Namespace) -> int:
    from sdvg_spark import config_synth

    if args.mode == "interactive":
        raw = interactive_config()
        from sdvg_spark.config.model import ConfigError, parse_config

        try:
            parse_config(raw)
        except ConfigError as e:
            print(f"invalid: {e}", file=sys.stderr)
            return 1
    elif args.mode == "sql-query":
        raw = config_synth.ddl_to_config(open(args.input, encoding="utf-8").read())
    elif args.mode == "data-sample":
        raw = config_synth.sample_to_config(open(args.input, encoding="utf-8").read())
    else:  # description
        raw = config_synth.describe_to_config(open(args.input, encoding="utf-8").read())
    out = json.dumps(raw, indent=2, default=str)
    if args.output:
        with open(args.output, "w", encoding="utf-8") as f:
            f.write(out + "\n")
        print(f"wrote {args.output}")
    else:
        print(out)
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    from sdvg_spark.session import get_spark
    from sdvg_spark.plan_stats import dataset_bytes
    from sdvg_spark.sinks.compact import compact_parquet

    spark = get_spark(app_name="sdvg-compact")
    before = dataset_bytes(args.input)
    n = compact_parquet(
        spark,
        args.input,
        args.output,
        target_mb=args.target_mb,
        sort_by=[c for c in args.sort_by.split(",") if c] or None,
    )
    print(f"compacted {before / 1e6:.1f} MB -> {n} file(s) ({args.output})")
    return 0


def cmd_curate(args: argparse.Namespace) -> int:
    """Run the curation pipeline over a parquet corpus and write the
    per-document disposition (keep / drop_reason / split / pack) as
    parquet — the library's ops/pipeline.py behind a one-line CLI."""
    from sdvg_spark.ops.pipeline import CurationConfig, curate
    from sdvg_spark.session import get_spark

    split = None
    if args.split:
        split = {}
        for part in args.split.split(","):
            name, _, frac = part.partition("=")
            split[name.strip()] = float(frac)
    cfg = CurationConfig(
        lang=args.lang or None,
        min_quality=args.min_quality,
        dedup_threshold=None if args.no_dedup else args.dedup_threshold,
        redact=not args.no_redact,
        split=split,
        split_seed=args.seed,
        pack_budget=args.pack_budget or None,
    )
    spark = get_spark(app_name="sdvg-curate")
    docs = spark.read.parquet(args.input)
    out = curate(docs, cfg, id_col=args.id_col, text_col=args.text_col)
    out.write.mode("overwrite").parquet(args.output)
    # count the written files: `out` is unpersisted, so counting it
    # would re-run the whole pipeline twice
    written = spark.read.parquet(args.output)
    kept = written.where("keep").count()
    total = written.count()
    print(f"curated {total} docs -> {kept} kept ({args.output})")
    return 0


def cmd_serve(args: argparse.Namespace) -> int:
    from sdvg_spark.server import serve

    serve(host=args.host, port=args.port, output_root=args.output_dir)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="sdvg-spark")
    sub = p.add_subparsers(dest="command", required=True)

    g = sub.add_parser("generate", help="generate data from a config")
    g.add_argument("config")
    g.add_argument("--force", action="store_true", help="clean conflicting outputs")
    g.add_argument(
        "--continue-generation",
        action="store_true",
        help="resume an interrupted run (config must be unchanged)",
    )
    g.set_defaults(fn=cmd_generate)

    v = sub.add_parser("validate-config", help="validate a config file")
    v.add_argument("config")
    v.set_defaults(fn=cmd_validate)

    gc = sub.add_parser("generate-config", help="synthesize a generation config")
    gc.add_argument(
        "mode", choices=["description", "sql-query", "data-sample", "interactive"]
    )
    gc.add_argument(
        "input",
        nargs="?",
        default="",
        help="input file (text / SQL DDL / CSV sample); omitted for interactive",
    )
    gc.add_argument("-o", "--output", default="")
    gc.set_defaults(fn=cmd_generate_config)

    c = sub.add_parser("curate", help="curate a parquet document corpus")
    c.add_argument("input", help="input parquet path (needs id + text columns)")
    c.add_argument("output", help="output parquet path for the disposition table")
    c.add_argument("--id-col", default="doc_id")
    c.add_argument("--text-col", default="text")
    c.add_argument("--lang", default="en", help="keep docs of this language ('' = any)")
    c.add_argument("--min-quality", type=float, default=0.0)
    c.add_argument("--dedup-threshold", type=float, default=0.4)
    c.add_argument("--no-dedup", action="store_true")
    c.add_argument("--no-redact", action="store_true")
    c.add_argument("--split", default="train=0.8,val=0.1,test=0.1",
                   help="comma list name=frac ('' disables)")
    c.add_argument("--seed", type=int, default=0)
    c.add_argument("--pack-budget", type=int, default=2048, help="0 disables packing")
    c.set_defaults(fn=cmd_curate)

    cp = sub.add_parser("compact", help="rewrite a parquet dataset into target-size files")
    cp.add_argument("input", help="fragmented parquet dataset path")
    cp.add_argument("output", help="compacted output path")
    cp.add_argument("--target-mb", type=int, default=256)
    cp.add_argument("--sort-by", default="",
                    help="comma list of cluster keys ('' = shuffle-free coalesce)")
    cp.set_defaults(fn=cmd_compact)

    s = sub.add_parser("serve", help="run the HTTP API")
    s.add_argument("--host", default="127.0.0.1")
    s.add_argument("--port", type=int, default=8080)
    s.add_argument("--output-dir", default="output")
    s.set_defaults(fn=cmd_serve)

    ver = sub.add_parser("version")
    ver.set_defaults(fn=lambda a: (print(__version__), 0)[1])
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
