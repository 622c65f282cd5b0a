"""Command-line interface: the reference's ``greenmask`` verbs on Spark.

Reference: cmd/root.go + cmd/{dump,restore,validate}/ — ``greenmask
--config config.yml dump|restore|validate|list-transformers``. The config
file mirrors the reference YAML (internal/domains/config.go): a
``tables`` list with transformer steps, optional subset references and
conditions, include/exclude filters, salt/seed.

Config shape (YAML or JSON):

    source:
      dir: /path/to/tables          # <name>.parquet per table
      tables: [customer, orders]    # optional; default: all known
    dump:
      output: /path/to/dumpdir
      format: parquet               # or "copy" (COPY text + gzip)
    common: {salt: "s1", seed: 42}
    tables:
      - name: customer
        transformers:
          - name: Hash
            params: {column: c_name, function: sha256}
    subset:
      conditions: {orders: "o_totalprice > 100"}
      references:
        - {child: orders, parent: customer,
           fk: [o_custkey], pk: [c_custkey], nullable: false}
    include_tables: []              # glob patterns
    exclude_tables: []
    exclude_table_data: []

Every verb is a thin orchestration over the library: ``dump`` = load →
subset → transform → write_dump(+manifest); ``restore`` = read_dump →
topo order → per-table sink; ``validate`` = static warnings + per-table
diff sample. All heavy lifting stays in Spark plans.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from typing import Any


import re as _re

#: POSIX parameter expansion (the buildkite/interpolate subset the
#: reference documents): $$ escape, $VAR, ${VAR}, ${VAR:-d}, ${VAR-d},
#: ${VAR?message}
_POSIX_ENV_RE = _re.compile(
    r"\$\$"                                     # escape -> literal $
    r"|\$\{([A-Za-z_][A-Za-z0-9_]*)"            # ${VAR
    r"(?:(:?-)([^}]*)|(\?)([^}]*))?\}"          #   [:-d | -d | ?msg] }
    r"|\$([A-Za-z_][A-Za-z0-9_]*)"              # bare $VAR
)

#: conservative config-level form: ${VAR} / ${VAR:-default} only, with
#: a $${...} escape (bare $VAR deliberately NOT expanded here)
_CONFIG_ENV_RE = _re.compile(
    r"\$(\$)?\{([A-Za-z_][A-Za-z0-9_]*)(?::-([^}]*))?\}"
)

#: config keys whose values are strict-by-default under env expansion:
#: shipping a literal "${MASK_SALT}" as a salt/password/DSN is a
#: security failure, not a loadability concern. Segment-anchored so
#: "salt" matches but "basalt_path" doesn't; "token" is deliberately
#: absent (token_col and friends are column names, not credentials).
_SENSITIVE_KEY_RE = _re.compile(
    r"(?:^|[_.-])(salt|password|passwd|secrets?|dsn|credentials?|"
    r"api_key|access_key)(?:[_.-]|$)",
    _re.IGNORECASE,
)


def interpolate_posix(value: str, env: dict[str, str]) -> str:
    """POSIX parameter expansion over a transformer param value —
    reference semantics
    (docs/built_in_transformers/parameters_env_vars_interpolation.md):

    - ``${VAR}`` / ``$VAR`` → value, EMPTY STRING if unset;
    - ``${VAR:-default}`` → default when unset or empty;
    - ``${VAR-default}`` → default when unset only (empty stays empty);
    - ``${VAR?message}`` → required; raises with ``message`` when unset;
    - ``$$`` → a literal ``$`` (no lookup).
    """
    def sub(m: "_re.Match[str]") -> str:
        if m.group(0) == "$$":
            return "$"
        bare = m.group(6)
        if bare is not None:
            return env.get(bare, "")
        var = m.group(1)
        if m.group(4):  # ${VAR?message}
            if var in env:
                return env[var]
            raise KeyError(
                f"required environment variable {var} is not set: "
                f"{m.group(5)}"
            )
        sep, default = m.group(2), m.group(3)
        if sep is None:
            return env.get(var, "")
        got = env.get(var)
        if sep == ":-":
            return default if not got else got
        return default if got is None else got  # ${VAR-default}

    return _POSIX_ENV_RE.sub(sub, value)


def expand_env_vars(
    obj: Any, env: dict[str, str] | None = None, strict: bool = False
) -> Any:
    """Environment interpolation over a parsed config, reference
    semantics in two tiers:

    - **transformer ``params`` are opt-in**: a dict carrying a
      ``params`` key has that subtree interpolated (full POSIX syntax,
      ``interpolate_posix``) ONLY when the dict sets
      ``resolve_env: true`` — otherwise ``$`` strings in params are
      plain data. This is the reference's documented guard against
      expanding literal ``$`` in regex/template/script-valued params
      (parameters_env_vars_interpolation.md).
    - **everything else** (paths, salts, seeds, conditions — the
      CI-varying surface; viper.AutomaticEnv territory,
      cmd/greenmask/cmd/root.go:140) expands the conservative
      ``${VAR}`` / ``${VAR:-default}`` form with a ``$${...}`` escape;
      an undefined variable with no default stays VERBATIM with a
      warning (the reference interpolates only opt-in params, so a
      ported config may legitimately carry literal ``${...}`` outside
      params — raw SQL, paths for other tooling — and must still
      load); pass ``strict=True`` to raise instead for configs that
      treat every ``${VAR}`` as required (a silently empty salt or
      path is a corruption hazard, not a default).
    - **security-sensitive keys are strict EVEN in non-strict mode**:
      an undefined ``${VAR}`` in a value whose key names a salt,
      password, secret, DSN or credential — or in ANY value nested
      under such a key (``credentials: {user: ...}``) — always raises — a typo'd
      ``${MASK_SALT}`` shipping as the literal salt string would
      silently weaken every hash it feeds, which is a security
      failure, not a loadability concern. Escape as ``$${...}`` for
      the rare literal.

    Keys are never expanded, only values.
    """
    if env is None:
        env = dict(os.environ)

    def make_sub(sensitive_key: str | None):
        def config_sub(m: "_re.Match[str]") -> str:
            if m.group(1):  # $${...} escape
                return m.group(0)[1:]
            var, default = m.group(2), m.group(3)
            if var in env:
                return env[var]
            if default is not None:
                return default
            if sensitive_key is not None:
                raise KeyError(
                    f"config key {sensitive_key!r} is security-"
                    f"sensitive and references undefined environment "
                    f"variable ${{{var}}} — refusing to ship the "
                    f"literal string as its value (set {var}, use "
                    f"${{{var}:-default}}, or escape as $${{{var}}} "
                    f"for a deliberate literal)"
                )
            if strict:
                raise KeyError(
                    f"config references undefined environment variable "
                    f"${{{var}}} (use ${{{var}:-default}} for an "
                    f"optional value)"
                )
            import warnings

            warnings.warn(
                f"config string contains ${{{var}}} but {var} is not "
                f"set — left verbatim (set the variable, use "
                f"${{{var}:-default}}, or escape as $${{{var}}} to "
                f"silence)",
                stacklevel=2,
            )
            return m.group(0)

        return config_sub

    def walk_posix(v: Any) -> Any:
        if isinstance(v, str):
            return interpolate_posix(v, env)
        if isinstance(v, dict):
            return {k: walk_posix(x) for k, x in v.items()}
        if isinstance(v, list):
            return [walk_posix(x) for x in v]
        return v

    def walk(
        v: Any, key: str | None = None, sens_key: str | None = None
    ) -> Any:
        # sensitivity propagates DOWN: {'credentials': {'user': ...}}
        # is as sensitive at the leaf as a flat 'credentials_user' —
        # sens_key carries the nearest sensitive ancestor's name so
        # the strict-always guarantee covers nested-credentials shapes
        if key is not None and _SENSITIVE_KEY_RE.search(key):
            sens_key = key
        if isinstance(v, str):
            return _CONFIG_ENV_RE.sub(make_sub(sens_key), v)
        if isinstance(v, dict):
            out = {}
            for k, x in v.items():
                if k == "params" and isinstance(v.get("params"), (dict, list)):
                    out[k] = walk_posix(x) if v.get("resolve_env") else x
                else:
                    out[k] = walk(x, k, sens_key)
            return out
        if isinstance(v, list):
            # list values inherit the owning key's sensitivity
            return [walk(x, key, sens_key) for x in v]
        return v

    return walk(obj)


def load_config(
    path: str,
    env: dict[str, str] | None = None,
    strict_env: bool | None = None,
) -> dict[str, Any]:
    """Parse + env-expand a YAML/JSON config. ``strict_env=True`` makes
    an undefined ``${VAR}`` outside params a hard failure instead of a
    warn-and-leave-verbatim (the right setting for CI configs where a
    typo'd variable name must not ship a literal '${MASK_SALT}' as the
    salt); defaults to the ``GREENMASK_STRICT_ENV`` environment
    variable (1/true/yes) so CLI runs can opt in without a code
    change."""
    if strict_env is None:
        strict_env = (env or os.environ).get(
            "GREENMASK_STRICT_ENV", ""
        ).lower() in ("1", "true", "yes")
    with open(path) as fh:
        text = fh.read()
    if path.endswith(".json"):
        return expand_env_vars(json.loads(text), env, strict=strict_env)
    import yaml

    return expand_env_vars(yaml.safe_load(text), env, strict=strict_env)


def _spark(app: str):
    from greenmask_spark.session import get_spark

    return get_spark(app)


def _load_source(spark, cfg: dict) -> dict:
    src = cfg.get("source", {})
    sdir = src["dir"]
    names = src.get("tables")
    if not names:
        names = sorted(
            f[: -len(".parquet")] for f in os.listdir(sdir)
            if f.endswith(".parquet")
        )
    from greenmask_spark.session import load_tables

    return load_tables(spark, sdir, tuple(names))


def _fk_graph(cfg: dict, tables: dict):
    from greenmask_spark.subset import FKGraph, Reference

    sub = cfg.get("subset", {})
    refs = [
        Reference(
            child=r["child"], parent=r["parent"],
            fk_columns=tuple(r["fk"]), pk_columns=tuple(r["pk"]),
            nullable=r.get("nullable", False),
            condition=r.get("condition"),
        )
        for r in sub.get("references", [])
    ]
    return FKGraph(tables=list(tables), references=refs), sub.get(
        "conditions", {}
    )


def _table_metadata(cfg: dict) -> tuple[dict, dict]:
    """Per-table primary_key / sequence declarations from config →
    manifest metadata (the restore side builds conflict clauses and
    setval analogs from these)."""
    pks = {
        t["name"]: list(t["primary_key"])
        for t in cfg.get("tables", []) if t.get("primary_key")
    }
    seqs = {
        t["name"]: t["sequence"]
        for t in cfg.get("tables", []) if t.get("sequence")
    }
    return pks, seqs


def cmd_dump(args) -> int:
    from greenmask_spark.plan import apply_plans, build_plan
    from greenmask_spark.sources.io import write_dump
    from greenmask_spark.subset import SubsetPlanner

    cfg = load_config(args.config)
    spark = _spark("greenmask-spark-dump")
    tables = _load_source(spark, cfg)
    graph, conditions = _fk_graph(cfg, tables)
    if conditions:
        tables = SubsetPlanner(graph, conditions).plan(tables)
    plans = build_plan(cfg)
    unknown = sorted({p.table for p in plans} - set(tables))
    if unknown:
        print(f"dump: config references unknown tables {unknown} "
              f"(loaded: {sorted(tables)})", file=sys.stderr)
        return 2
    tables = apply_plans(tables, plans)
    pks, seqs = _table_metadata(cfg)

    out = args.output or cfg.get("dump", {}).get("output")
    if not out:
        print("dump: no output directory (--output or dump.output)",
              file=sys.stderr)
        return 2
    common = cfg.get("common", {})
    # copy: COPY text + gzip per table, the reference's native format
    fmt = cfg.get("dump", {}).get("format", "parquet")
    if fmt not in ("parquet", "copy"):
        print(f"dump: format must be parquet or copy, not {fmt!r}",
              file=sys.stderr)
        return 2
    write_dump(
        tables, out, graph=graph, primary_keys=pks, sequences=seqs,
        salt=common.get("salt", ""), seed=common.get("seed"),
        transformations=[{"table": p.table} for p in plans], fmt=fmt,
    )
    print(json.dumps({"dumped": sorted(tables), "output": out, "format": fmt}))
    return 0


def cmd_restore(args) -> int:
    from greenmask_spark.sources.io import read_dump
    from greenmask_spark.sources.manifest import read_manifest

    spark = _spark("greenmask-spark-restore")
    manifest = read_manifest(args.input)
    tables = read_dump(spark, args.input, manifest=manifest)
    order = [t for t in manifest.restore_order if t in tables] or sorted(tables)
    os.makedirs(args.output, exist_ok=True)
    restored = []
    for name in order:  # parents-first, like restorers/ topo order
        tables[name].write.mode("overwrite").parquet(
            os.path.join(args.output, name)
        )
        restored.append(name)
    print(json.dumps({"restored": restored, "order": order}))
    return 0


def cmd_validate(args) -> int:
    from greenmask_spark.plan import apply_plan, build_plan
    from greenmask_spark.validate import validate_plans
    from greenmask_spark.validate.diff import diff_report

    cfg = load_config(args.config)
    spark = _spark("greenmask-spark-validate")
    tables = _load_source(spark, cfg)
    plans = build_plan(cfg)
    pks = {
        t["name"]: tuple(t.get("primary_key", ()))
        for t in cfg.get("tables", [])
    }
    warns = validate_plans(
        plans, {t: df.schema for t, df in tables.items()},
        primary_keys=pks, resolved=cfg.get("resolved_warnings", ()),
    )
    report: dict[str, Any] = {
        "warnings": [w.to_dict() for w in warns],
        "tables": {},
    }
    fatal = any(w.severity == "error" for w in warns)
    if not fatal:
        limit = args.rows_limit
        for plan in plans:
            pk = list(pks.get(plan.table, ()))
            # unknown table already produced an ERROR warning above; if
            # that hash was listed as resolved we must still not KeyError
            if not pk or plan.table not in tables:
                continue
            orig = tables[plan.table].limit(limit)
            diff = diff_report(orig, apply_plan(orig, plan), pk)
            changed = diff.filter("n_changed > 0")
            report["tables"][plan.table] = {
                "rows_checked": diff.count(),
                "rows_changed": changed.count(),
            }
            if getattr(args, "format", "json") == "text":
                from greenmask_spark.validate.text_render import (
                    render_diff_text,
                )

                affected = sorted(
                    {s.column for s in plan.steps if s.column}
                    | {c["name"]
                       for s in plan.steps
                       for c in (s.params.get("columns") or [])
                       if isinstance(c, dict) and "name" in c}
                )
                print(render_diff_text(
                    orig, apply_plan(orig, plan), pk,
                    affected=affected,
                    table_format=args.table_format,
                    with_diff=not args.no_diff,
                    limit=min(limit, 10),
                    color=args.color,
                    table=plan.table,
                ))
    if getattr(args, "format", "json") != "text":
        print(json.dumps(report))
    elif warns:
        print(json.dumps({"warnings": report["warnings"]}))
    return 1 if fatal else 0


def _dump_dirs(root: str) -> list[str]:
    return sorted(
        d for d in os.listdir(root)
        if os.path.exists(os.path.join(root, d, "_manifest.json"))
    )


def cmd_list_dumps(args) -> int:
    """Reference cmd/list_dumps: one row per dump with table/row totals."""
    from greenmask_spark.sources.manifest import read_manifest

    out = []
    for d in _dump_dirs(args.dir):
        m = read_manifest(os.path.join(args.dir, d))
        out.append({
            "dump": d,
            "tables": len(m.tables),
            "rows": sum(t.row_count or 0 for t in m.tables),
            "salted": bool(m.salt),
        })
    print(json.dumps(out))
    return 0


def cmd_show_dump(args) -> int:
    """Reference cmd/show_dump: the manifest (TOC analog), verbatim."""
    with open(os.path.join(args.input, "_manifest.json")) as fh:
        print(fh.read())
    return 0


def cmd_delete(args) -> int:
    """Reference cmd/delete: remove a dump directory (manifest-guarded so
    an arbitrary path can't be deleted by typo)."""
    import shutil

    if not os.path.exists(os.path.join(args.input, "_manifest.json")):
        print(f"delete: {args.input} is not a dump dir (no _manifest.json)",
              file=sys.stderr)
        return 2
    shutil.rmtree(args.input)
    print(json.dumps({"deleted": args.input}))
    return 0


def cmd_show_transformer(args) -> int:
    """Reference cmd/show_transformer: one transformer's full parameters."""
    from greenmask_spark.transformers import DEFAULT_REGISTRY

    t = DEFAULT_REGISTRY.get(args.name)
    print(json.dumps({
        "name": t.name,
        "defaults": {k: v for k, v in t.defaults.items() if not callable(v)},
        "table_level": getattr(t, "table_level", False),
        "multi_column": getattr(t, "multi_column", False),
        "allowed_types": sorted(getattr(t, "allowed_types", ())),
        "doc": (t.__doc__ or "").strip(),
    }, default=str))
    return 0


def cmd_list_transformers(args) -> int:
    from greenmask_spark.transformers import DEFAULT_REGISTRY

    out = []
    for name in sorted(DEFAULT_REGISTRY.names()):
        t = DEFAULT_REGISTRY.get(name)
        out.append({
            "name": name,
            "defaults": {k: v for k, v in t.defaults.items()
                         if not callable(v)},
            "doc": (t.__doc__ or "").strip().split("\n")[0],
        })
    print(json.dumps(out, indent=None if args.compact else 2, default=str))
    return 0


def cmd_corpus(args) -> int:
    """Run a config-driven corpus pipeline (dedup/filter/scrub/split/
    pack steps over a documents table) — the training-data analog of
    `dump`."""
    from greenmask_spark.pipeline import PRESETS, run_corpus_pipeline

    cfg = load_config(args.config)
    if "preset" in cfg:
        # {"preset": "ccnet", "args": {...}} — the config file
        # instantiates a published recipe; any extra top-level keys
        # (e.g. an output override) win over what the preset built
        name = cfg["preset"]
        if name not in PRESETS:
            raise SystemExit(
                f"unknown preset {name!r}; available: "
                f"{sorted(PRESETS)}")
        built = PRESETS[name](**(cfg.get("args") or {}))
        built.update({k: v for k, v in cfg.items()
                      if k not in ("preset", "args")})
        cfg = built
    spark = _spark("greenmask-spark-corpus")
    if args.describe:
        from greenmask_spark.pipeline.corpus import describe_corpus_pipeline

        for row in describe_corpus_pipeline(spark, cfg, sf_dir=args.sf_dir):
            delta = []
            if row["added"]:
                delta.append("+" + ",".join(row["added"]))
            if row["removed"]:
                delta.append("-" + ",".join(row["removed"]))
            print(f"{row['step']:<20} {' '.join(delta)}")
        return 0
    if args.funnel:
        from greenmask_spark.pipeline.corpus import corpus_funnel

        rows = corpus_funnel(spark, cfg, sf_dir=args.sf_dir)
        prev = None
        for r in rows:
            n = r["rows"]
            if n is None:
                # a boundary the recursive re-derivation could not fill
                # (e.g. the prefix re-run erroring) — render the partial
                # funnel instead of dying on None arithmetic
                print(f"{r['op']:<20} {'n/a':>12}")
                prev = None
                continue
            drop = "" if prev is None else f"  ({n - prev:+d})"
            print(f"{r['op']:<20} {n:>12}{drop}")
            prev = n
        return 0
    out = run_corpus_pipeline(spark, cfg, sf_dir=args.sf_dir)
    if not cfg.get("output"):
        n = out.count()
        print(f"corpus: pipeline produced {n} rows "
              f"(no output sink configured; add an output section to write)")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="greenmask-spark",
        description="PySpark-native anonymization/subsetting engine",
    )
    sub = p.add_subparsers(dest="verb", required=True)

    d = sub.add_parser("dump", help="transform + subset + write dump dir")
    d.add_argument("--config", required=True)
    d.add_argument("--output", default=None)
    d.set_defaults(fn=cmd_dump)

    cp = sub.add_parser("corpus", help="run a corpus pipeline config (dedup/filter/split/pack)")
    cp.add_argument("--config", required=True)
    cp.add_argument("--sf-dir", default=None,
                    help="directory holding <table>.parquet for input.table")
    cp.add_argument("--describe", action="store_true",
                    help="dry-run: per-step schema changes, no corpus reads")
    cp.add_argument("--funnel", action="store_true",
                    help="run the pipeline once and print per-stage "
                         "survivor counts (DataFrame.observe — no "
                         "per-stage jobs)")
    cp.set_defaults(fn=cmd_corpus)

    r = sub.add_parser("restore", help="read dump dir, write tables in topo order")
    r.add_argument("--input", required=True)
    r.add_argument("--output", required=True)
    r.set_defaults(fn=cmd_restore)

    v = sub.add_parser("validate", help="static warnings + diff sample")
    v.add_argument("--config", required=True)
    v.add_argument("--rows-limit", type=int, default=100)
    v.add_argument("--format", choices=("json", "text"), default="json")
    v.add_argument("--table-format", choices=("horizontal", "vertical"),
                   default="horizontal")
    v.add_argument("--no-diff", action="store_true",
                   help="text format: transformed rows only")
    v.add_argument("--color", action="store_true",
                   help="ANSI colors in text tables")
    v.set_defaults(fn=cmd_validate)

    lt = sub.add_parser("list-transformers", help="registry inventory")
    lt.add_argument("--compact", action="store_true")
    lt.set_defaults(fn=cmd_list_transformers)

    ld = sub.add_parser("list-dumps", help="dumps under a storage dir")
    ld.add_argument("--dir", required=True)
    ld.set_defaults(fn=cmd_list_dumps)

    sd = sub.add_parser("show-dump", help="print a dump's manifest")
    sd.add_argument("--input", required=True)
    sd.set_defaults(fn=cmd_show_dump)

    de = sub.add_parser("delete", help="delete a dump dir (manifest-guarded)")
    de.add_argument("--input", required=True)
    de.set_defaults(fn=cmd_delete)

    st = sub.add_parser("show-transformer", help="one transformer's detail")
    st.add_argument("name")
    st.set_defaults(fn=cmd_show_transformer)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
