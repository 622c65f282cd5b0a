"""The four benchmark workloads: one user-facing verb each.

BENCHMARK.json lists subset_dump and validate_config, the two whose
runs (set-up, a warm-up and three or more iterations) fit in about a
minute on a 4-vCPU VM (subset_dump about 45 s, validate_config about
80 s, on an unloaded host). mask_dump (about 5 s per iteration after a
13 s first one) and corpus_fineweb (about 22 s per iteration, most of
it the ~50 Spark jobs of fuzzy_dedup) stay runnable by name for layer
work.

Every workload drives the program only through its public functions,
with each call wrapped in a tracer span named after the layer it
enters. ``run`` does one closed-loop iteration (one verb to
completion); ``verify`` checks that iteration's output with DuckDB,
outside the timed region and outside the Spark process being measured,
so verification adds neither jobs nor heap to the numbers.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: (child, parent, fk, pk): the TPC-H foreign keys of the source
EDGES = (
    ("nation", "region", "n_regionkey", "r_regionkey"),
    ("customer", "nation", "c_nationkey", "n_nationkey"),
    ("supplier", "nation", "s_nationkey", "n_nationkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
)
PRIMARY_KEYS = {
    "region": ["r_regionkey"], "nation": ["n_nationkey"],
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"], "events": ["event_id"],
}
TPCH = ("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem")


def mask_config(salt: str, seed: int) -> dict:
    """18 transformers on 6 tables: hash-engine draws, noise, Masking,
    RegexpReplace, Dict, Template (mapInPandas) and Json (pandas UDF)."""
    def t(name, column, **params):
        return {"name": name, "salt": salt,
                "params": {"column": column, **params}}

    tables = {
        "customer": [
            t("Template", "c_name",
              template="{{ record['c_name'] | upper }}-{{ record['c_custkey'] }}"),
            t("RandomInt", "c_nationkey", min=0, max=24),
            t("NoiseFloat", "c_acctbal", min_ratio=0.05, max_ratio=0.2,
              decimal=2),
            t("Dict", "c_mktsegment",
              values={"MACHINERY": "M", "AUTOMOBILE": "A",
                      "FURNITURE": "F", "HOUSEHOLD": "H"},
              default="X"),
        ],
        "supplier": [
            t("Hash", "s_name", function="sha256"),
            t("RandomFloat", "s_acctbal", min=0.0, max=9999.99, decimal=2),
        ],
        "part": [
            t("RegexpReplace", "p_name", regexp="(ring|gear|bolt)",
              replace="item"),
            t("RandomString", "p_brand", min_length=6, max_length=10),
            t("RandomChoice", "p_type", values=["A", "B", "C"]),
            t("NoiseInt", "p_size", min_ratio=0.2, max_ratio=0.5),
        ],
        "orders": [
            t("RandomChoice", "o_orderpriority", values=["HIGH", "LOW"]),
            t("NoiseFloat", "o_totalprice", min_ratio=0.05, max_ratio=0.2,
              decimal=2),
        ],
        "lineitem": [
            t("NoiseFloat", "l_extendedprice", min_ratio=0.05,
              max_ratio=0.2, decimal=2),
            t("RandomFloat", "l_discount", min=0.2, max=0.5, decimal=2),
        ],
        "events": [
            t("Json", "props", operations=[
                {"operation": "set", "path": "tag", "value": "masked"},
                {"operation": "delete", "path": "k"}]),
            t("RandomInt", "user_id", min=1_000_000, max=2_000_000),
            t("Masking", "event_type"),
        ],
    }
    return {
        "common": {"salt": salt, "seed": seed},
        "tables": [{"name": n, "primary_key": PRIMARY_KEYS[n],
                    "transformers": steps} for n, steps in tables.items()],
    }


def masked_columns(cfg: dict) -> dict[str, list[str]]:
    return {t["name"]: [s["params"]["column"] for s in t["transformers"]]
            for t in cfg["tables"]}


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under a directory. Metadata
    files are left out: the dump manifest records its creation time, so
    its size moves by a byte from one write to the next."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, n))
                files += 1
    return total, files


def code_hash() -> str:
    """Hash of the program's and the benchmark's Python sources: pinned
    outputs are only compared between runs of identical code."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "greenmask_spark"), HERE):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    h.update(n.encode())
                    with open(os.path.join(d, n), "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:12]


def _scan(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet')"


def _digest(con, scan: str) -> int:
    """Order-independent digest of every row of a scan."""
    cols = [c[0] for c in con.execute(f"SELECT * FROM {scan} LIMIT 0").description]
    return con.execute(
        f"SELECT sum(hash({', '.join(cols)}) % 1000000007) FROM {scan}"
    ).fetchone()[0]


class Workload:
    """One verb over a seeded input set. Subclasses set ``name``,
    ``tables`` (what ``load_tables`` reads), ``sizes`` (input set
    settings: base customers, base documents, make_sf mult) and
    implement ``run`` and ``verify``."""

    name = ""
    tables: tuple[str, ...] = ()
    sizes = {"customers": 0, "docs": 0, "mult": 1}
    #: iterations discarded as warm-up
    warmup = 2

    def __init__(self, data_dir: str, out_dir: str, seed: int):
        self.data = data_dir
        self.out = out_dir
        self.seed = seed
        self.salt = f"perfbench-{seed}"
        self.con = duckdb.connect()
        self.in_bytes = sum(
            os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))
            for t in self.tables)
        self.src_rows = {
            t: self.con.execute(
                f"SELECT count(*) FROM read_parquet('{data_dir}/{t}.parquet')"
            ).fetchone()[0]
            for t in self.tables}
        # outputs pinned by an earlier run with the same seed and code
        self.pins = os.path.join(os.path.dirname(data_dir),
                                 f"pins-{self.name}-{code_hash()}.json")
        self.first: dict = {}
        if os.path.exists(self.pins):
            with open(self.pins) as fh:
                self.first = json.load(fh)
        self.pinned = dict(self.first)

    def src(self, table: str) -> str:
        return f"read_parquet('{self.data}/{table}.parquet')"

    def prepare(self, spark, tables, tr) -> None:
        """Once per run, before the warm-up; not timed."""

    def run(self, spark, tables, tr) -> dict:
        raise NotImplementedError

    def verify(self, result: dict) -> list[str]:
        raise NotImplementedError

    def same_as_first(self, key: str, value) -> list[str]:
        """Outputs that must repeat exactly across the iterations of a
        run and across runs with the same seed: the first verified
        iteration pins them (compared as JSON)."""
        value = json.loads(json.dumps(value))
        pinned = self.first.setdefault(key, value)
        return [] if pinned == value else [
            f"{key} differs from the pinned run: {pinned} -> {value}"]

    def close(self, passed: bool) -> None:
        """Drop the output; a fully verified run pins its outputs for
        later runs with the same seed."""
        self.con.close()
        shutil.rmtree(self.out, ignore_errors=True)
        if passed and self.first and self.first != self.pinned:
            tmp = f"{self.pins}.{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(self.first, fh)
            os.replace(tmp, self.pins)


class MaskDump(Workload):
    """Full masked dump: build_plan → apply_plans → write_dump."""

    name = "mask_dump"
    tables = TPCH + ("events",)
    sizes = {"customers": 1000, "docs": 100, "mult": 3}

    def prepare(self, spark, tables, tr):
        self.cfg = mask_config(self.salt, self.seed)
        self.cols = masked_columns(self.cfg)

    def run(self, spark, tables, tr):
        from greenmask_spark.plan import apply_plans, build_plan
        from greenmask_spark.sources.io import write_dump

        with tr.span("plan.build_plan"):
            plans = build_plan(self.cfg)
        with tr.span("plan.apply_plans"):
            masked = apply_plans(tables, plans)
        with tr.span("sources.write_dump"):
            write_dump(masked, self.out, primary_keys=PRIMARY_KEYS,
                       salt=self.salt, seed=self.seed,
                       transformations=[{"table": p.table} for p in plans])
        out_bytes, files = _tree_bytes(self.out)
        return {"rows": sum(self.src_rows.values()), "in_bytes": self.in_bytes,
                "out_bytes": out_bytes, "files": files}

    def verify(self, result):
        errs, digests, shares = [], {}, {}
        for t in self.tables:
            out, src = _scan(f"{self.out}/{t}"), self.src(t)
            n = self.con.execute(f"SELECT count(*) FROM {out}").fetchone()[0]
            if n != self.src_rows[t]:
                errs.append(f"{t}: {n} rows, source has {self.src_rows[t]}")
                continue
            pk = PRIMARY_KEYS[t]
            keys = ", ".join(pk)
            moved = self.con.execute(
                f"SELECT count(*) FROM (SELECT {keys} FROM {out} "
                f"EXCEPT ALL SELECT {keys} FROM {src})").fetchone()[0]
            if moved:
                errs.append(f"{t}: {moved} primary keys differ from source")
            on = " AND ".join(f"o.{k} = s.{k}" for k in pk)
            for c in self.cols.get(t, ()):
                changed, nonnull = self.con.execute(
                    f"SELECT count(*) FILTER (WHERE o.{c} IS DISTINCT FROM "
                    f"s.{c}), count(s.{c}) FROM {out} o JOIN {src} s ON {on}"
                ).fetchone()
                share = changed / nonnull if nonnull else 0.0
                shares[f"{t}.{c}"] = round(share, 6)
                if share == 0.0:
                    errs.append(f"{t}.{c}: no row was masked")
            digests[t] = _digest(self.con, out)
        errs += self.same_as_first("changed_share", shares)
        errs += self.same_as_first("digest", digests)
        return errs


class SubsetDump(Workload):
    """Referentially intact subset of the TPC-H tables, one masked
    table: SubsetPlanner.plan → build_plan → apply_plans → write_dump."""

    name = "subset_dump"
    tables = TPCH
    sizes = {"customers": 1000, "docs": 100, "mult": 3}
    # iterations ran about 10, 4, 3.3, then near 3 s: a third warm-up
    # iteration leaves the steepest part of the JIT curve behind
    warmup = 3
    CONDITIONS = {
        "region": "r_name IN ('AMERICA', 'EUROPE', 'ASIA')",
        "customer": "c_acctbal > 1000",
        "part": "p_size <= 40",
    }

    def prepare(self, spark, tables, tr):
        from greenmask_spark.subset import FKGraph, Reference

        self.graph = FKGraph(tables=list(TPCH), references=[
            Reference(c, p, (fk,), (pk,)) for c, p, fk, pk in EDGES])
        self.cfg = {"tables": [{"name": "customer", "transformers": [
            {"name": "Hash", "salt": self.salt,
             "params": {"column": "c_name", "function": "sha256"}}]}]}
        self.expected = self._duckdb_subset()

    def _duckdb_subset(self) -> dict[str, int]:
        """Per-table row counts of the same subset, evaluated by DuckDB:
        a conditioned table keeps the rows its condition passes, and a
        row survives only if every FK points at a surviving parent row
        (parents first, so restriction propagates transitively)."""
        kept = {}
        for t in TPCH:      # TPCH is parents-first
            preds = [self.CONDITIONS[t]] if t in self.CONDITIONS else []
            preds += [f"{fk} IN (SELECT {pk} FROM kept_{p})"
                      for c, p, fk, pk in EDGES if c == t]
            self.con.execute(
                f"CREATE OR REPLACE TEMP TABLE kept_{t} AS SELECT * FROM "
                f"{self.src(t)} WHERE {' AND '.join(preds) or 'true'}")
            kept[t] = self.con.execute(
                f"SELECT count(*) FROM kept_{t}").fetchone()[0]
        return kept

    def run(self, spark, tables, tr):
        from greenmask_spark.plan import apply_plans, build_plan
        from greenmask_spark.sources.io import write_dump
        from greenmask_spark.subset import SubsetPlanner

        with tr.span("subset.plan"):
            sub = SubsetPlanner(self.graph, self.CONDITIONS).plan(tables)
        with tr.span("plan.build_plan"):
            plans = build_plan(self.cfg)
        with tr.span("plan.apply_plans"):
            masked = apply_plans(sub, plans)
        with tr.span("sources.write_dump"):
            write_dump(masked, self.out, graph=self.graph,
                       primary_keys=PRIMARY_KEYS, salt=self.salt,
                       seed=self.seed,
                       transformations=[{"table": p.table} for p in plans])
        out_bytes, files = _tree_bytes(self.out)
        return {"rows": sum(self.src_rows.values()), "in_bytes": self.in_bytes,
                "out_bytes": out_bytes, "files": files}

    def verify(self, result):
        errs, got, digests = [], {}, {}
        for t in TPCH:
            got[t] = self.con.execute(
                f"SELECT count(*) FROM {_scan(f'{self.out}/{t}')}"
            ).fetchone()[0]
            if got[t] != self.expected[t]:
                errs.append(f"{t}: {got[t]} rows, DuckDB subset has "
                            f"{self.expected[t]}")
            digests[t] = _digest(self.con, _scan(f"{self.out}/{t}"))
        for c, p, fk, pk in EDGES:
            orphans = self.con.execute(
                f"SELECT count(*) FROM {_scan(f'{self.out}/{c}')} "
                f"WHERE {fk} NOT IN "
                f"(SELECT {pk} FROM {_scan(f'{self.out}/{p}')})"
            ).fetchone()[0]
            if orphans:
                errs.append(f"{c}.{fk}: {orphans} orphan rows")
        result["kept_ratio"] = sum(got.values()) / sum(self.src_rows.values())
        return errs + self.same_as_first("digest", digests)


class ValidateConfig(Workload):
    """The ``validate`` flow of the CLI: validate_plans, then per table
    apply_plan on a 1000-row limit, diff_report and its two counts."""

    name = "validate_config"
    tables = TPCH + ("events",)
    sizes = {"customers": 1000, "docs": 100, "mult": 3}
    # iterations ran about 15, 8, then near 6.6 s until a step down to
    # near 5.5 s at the fourth to sixth: with a shorter warm-up, whether
    # that step fell inside the timed iterations split runs of the same
    # code into 5.1-5.4 s and 6.4-7.1 s
    warmup = 5
    LIMIT = 1000

    def prepare(self, spark, tables, tr):
        from greenmask_spark.plan import build_plan
        from greenmask_spark.validate import validate_plans

        self.cfg = mask_config(self.salt, self.seed)
        # props holds JSON in a text column: acknowledge the Json type
        # error by hash, as a user does with resolved_warnings
        self.cfg["resolved_warnings"] = sorted(
            w.hash for w in validate_plans(
                build_plan(self.cfg),
                {t: df.schema for t, df in tables.items()})
            if w.meta.get("TransformerName") == "Json")

    def run(self, spark, tables, tr):
        from greenmask_spark.plan import apply_plan, build_plan
        from greenmask_spark.validate import validate_plans
        from greenmask_spark.validate.diff import diff_report

        with tr.span("plan.build_plan"):
            plans = build_plan(self.cfg)
        pks = {t["name"]: tuple(t["primary_key"]) for t in self.cfg["tables"]}
        with tr.span("validate.validate_plans"):
            warns = validate_plans(
                plans, {t: df.schema for t, df in tables.items()},
                primary_keys=pks, resolved=self.cfg["resolved_warnings"])
        report = {"warnings": [w.to_dict() for w in warns], "tables": {}}
        rows = 0
        for plan in plans:
            with tr.span("validate.diff_report"):
                orig = tables[plan.table].limit(self.LIMIT)
                with tr.span("plan.apply_plan"):
                    masked = apply_plan(orig, plan)
                diff = diff_report(orig, masked, list(pks[plan.table]))
                changed = diff.filter("n_changed > 0")
            with tr.span("validate.count"):
                checked = diff.count()
                n_changed = changed.count()
            report["tables"][plan.table] = {
                "rows_checked": checked, "rows_changed": n_changed}
            rows += checked
        # the verb's output is its JSON report
        out_bytes = len(json.dumps(report).encode())
        return {"rows": rows, "in_bytes": self.in_bytes,
                "out_bytes": out_bytes, "files": 0, "report": report}

    def verify(self, result):
        errs = []
        report = result["report"]
        for w in report["warnings"]:
            if w.get("severity") == "error":
                errs.append(f"error warning: {w}")
        for t, r in report["tables"].items():
            want = min(self.LIMIT, self.src_rows[t])
            if r["rows_checked"] != want:
                errs.append(f"{t}: rows_checked {r['rows_checked']} != {want}")
            if r["rows_changed"] <= 0:
                errs.append(f"{t}: no row changed")
        if len(report["tables"]) != len(self.cfg["tables"]):
            errs.append(f"validated {sorted(report['tables'])}")
        errs += self.same_as_first("report", report)
        return errs


class CorpusFineweb(Workload):
    """The FineWeb recipe over synthesized documents, composed step by
    step with build_corpus_pipeline and written with
    write_training_shards."""

    name = "corpus_fineweb"
    tables = ("documents",)
    sizes = {"customers": 20, "docs": 1000, "mult": 1}

    def prepare(self, spark, tables, tr):
        from greenmask_spark.pipeline.presets import fineweb_config

        self.cfg = fineweb_config({"table": "documents"}, self.out,
                                  seed=self.seed)
        self.survivors = None

    def run(self, spark, tables, tr):
        from greenmask_spark.functions.sampling import write_training_shards
        from greenmask_spark.pipeline.corpus import build_corpus_pipeline

        ctx = {"spark": spark, "sf_dir": self.data}
        df = tables["documents"]
        for step in self.cfg["steps"]:
            with tr.span(f"pipeline.step.{step['op']}"):
                df = build_corpus_pipeline(df, [step], context=ctx)
        sink = self.cfg["output"]
        with tr.span("sources.write_training_shards"):
            write_training_shards(df, sink["path"], key_col="doc_id",
                                  rows_per_shard=sink["rows_per_shard"],
                                  seed=sink["seed"])
        self.last = df
        out_bytes, files = _tree_bytes(self.out)
        return {"rows": self.src_rows["documents"], "in_bytes": self.in_bytes,
                "out_bytes": out_bytes, "files": files}

    def verify(self, result):
        n, distinct, digest = self.con.execute(
            f"SELECT count(*), count(DISTINCT doc_id), "
            f"sum(hash(doc_id) % 1000000007) FROM {_scan(self.out)}"
        ).fetchone()
        errs = []
        if self.survivors is None:
            # once per run, untimed: the pipeline's own survivor count
            self.survivors = self.last.count()
        if n != self.survivors:
            errs.append(f"shards hold {n} rows, pipeline has {self.survivors}")
        if n == 0:
            errs.append("no document survived")
        if n != distinct:
            errs.append(f"{n - distinct} duplicate doc_id values in shards")
        result["survivor_ratio"] = n / self.src_rows["documents"]
        return errs + self.same_as_first("survivors", (n, digest))


WORKLOADS = {w.name: w for w in (MaskDump, SubsetDump, ValidateConfig,
                                 CorpusFineweb)}
