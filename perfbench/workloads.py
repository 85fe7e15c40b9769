"""The benchmark's workloads: one kind of operation each, its set-up, the
check of its output, and its traced decomposition into layer calls.

A workload gets the session and the record :mod:`gen` wrote for its
inputs. ``op`` runs one operation and returns what ``check`` needs;
``check`` returns an empty list when the output is right, else the
mismatches. ``phases`` calls the layers' public functions one after
another inside :class:`~spantrace.Tracer` spans, records on the spans
the counts only the benchmark can see, and returns the output's
mismatches.

``warmup_ops`` and ``timed_ops`` fix which ops feed ``op_p50_s``: after
the first op and ``warmup_ops`` untimed ones, the next ``timed_ops``.
The CSV op keeps getting faster for longer than the release op, so it
warms up for more ops (``WARMUP.md``).

``probes`` name phases that only isolate a cost the later phases pay
again; ``side`` names phases that measure a layer the op does not call.
``trace.coverage`` counts neither.
"""

from __future__ import annotations

import json
import os


class DeferredExecutor:
    """A ``key_executor`` that runs each submitted check when its result
    is read, so key-check jobs fall inside the span that drains them."""

    class _Call:
        def __init__(self, fn, args):
            self.fn, self.args = fn, args

        def result(self):
            return self.fn(*self.args)

    def submit(self, fn, *args):
        return self._Call(fn, args)


class ValidateCsv:
    """``validate(spark, path)`` of a dirty CSV package."""

    name = "validate_csv_dirty"
    warmup_ops = 5
    timed_ops = 4
    probes = ("sources.scan", "parsers.parse")
    side = ()

    def __init__(self, inputs: dict, in_dir: str):
        self.spark = None  # set by the runner for each session
        self.inputs = inputs
        self.path = os.path.join(in_dir, inputs["package"])
        self.rows = inputs["rows"]

    def setup(self) -> None:
        """No program-side set-up: the op reads the package from disk."""

    def op(self, i: int) -> dict:
        import goodtables_pandas_py_spark as gt

        return gt.validate(self.spark, self.path)

    def check(self, report: dict) -> list[str]:
        got = sorted(
            [t["source"], e["code"], e.get("field"), e["count"]]
            for t in report["tables"] for e in t["errors"]
        )
        counts = {t["source"]: t["row-count"] for t in report["tables"]}
        bad = []
        if got != self.inputs["expected"]:
            bad.append(f"report {got} != expected {self.inputs['expected']}")
        if counts != self.inputs["row_counts"]:
            bad.append(f"row counts {counts} != {self.inputs['row_counts']}")
        return bad

    def phases(self, tracer) -> list[str]:
        """validate_package's steps, one layer call at a time."""
        import goodtables_pandas_py_spark as gt
        from goodtables_pandas_py_spark.checks.keys import check_foreign_key
        from goodtables_pandas_py_spark.sources import sniff_csv_header

        spark = self.spark
        with tracer.span("schema.load"):
            with open(self.path) as fh:
                descriptor = json.load(fh)
            if gt.check_descriptor(descriptor):
                raise RuntimeError("descriptor fails its profile")
            package = gt.load_package(self.path)
        resources = [r for r in package.resources if r.schema is not None]

        with tracer.span("sources.scan"):  # probe: the scan alone
            for res in resources:
                gt.read_resource(spark, res).write.format("noop").mode(
                    "overwrite").save()
        with tracer.span("parsers.parse"):  # probe: scan + parse
            for res in resources:
                df = gt.read_resource(spark, res)
                mv = res.schema.missing_values
                df.select(*[
                    gt.parse_field(df[f.name], f, mv).parsed.alias(f.name)
                    for f in res.schema.fields
                ]).write.format("noop").mode("overwrite").save()

        # the columns each table's key cache must hold (as validate_package)
        need: dict[str, set] = {r.name: set(r.schema.primary_key or [])
                                for r in resources}
        for res in resources:
            for fk in res.schema.foreign_keys:
                need[res.name].update(fk.fields)
                need[fk.reference_resource or res.name].update(
                    fk.reference_fields)
        # read_resource infers each CSV header with a CollectLimit job; it
        # runs outside the validate.table span, so that the span's
        # CollectLimit jobs are the violated checks' value samples
        frames = {res.name: gt.read_resource(spark, res) for res in resources}
        pool = DeferredExecutor()
        validations = {}
        with tracer.span("validate.table") as c:
            for res in resources:
                header = sniff_csv_header(spark, res.path, res.dialect,
                                          res.encoding)
                tv = gt.validate_table(
                    frames[res.name], res.schema,
                    resource=res.name, cache_cols=sorted(need[res.name]),
                    header=header, key_executor=pool,
                )
                validations[res.name] = tv
            c["checks_violated"] = sum(len(v.errors)
                                       for v in validations.values())
        with tracer.span("checks.keys.pk"):
            for v in validations.values():
                v.resolve_keys()
        with tracer.span("checks.keys.fk") as c:
            orphans = 0
            for res in resources:
                child = validations[res.name]
                for fk in res.schema.foreign_keys:
                    parent = validations[fk.reference_resource or res.name]
                    r = check_foreign_key(
                        child.key_view(fk.fields), fk.fields,
                        parent.key_view(fk.reference_fields),
                        fk.reference_fields,
                    )
                    orphans += r.count
                    if not r.ok:
                        err = r.to_error(res.name, fk.fields, "foreignKey")
                        child.errors.append(err)
            c["orphan_keys"] = orphans
        with tracer.span("validate.report"):
            report = gt.assemble_report(validations)
            for v in validations.values():
                v.unpersist()
        return self.check(report)


class ReleaseIncrement:
    """``write_release_increment`` of a lineitem-shaped frame in three
    splits, then a readback of the release. Every op changes the
    quantities of split ``R`` only, so each publish rewrites exactly one
    split and hardlinks the other two.

    Its traced run also measures the near-dedup layers, as side phases
    on a generated corpus (``_dedup_phases``). A near-dedup op costs
    about 7 s warm and 14 s cold on 4 cores even on 1,000 documents, so
    a timed near-dedup workload of its own does not fit the benchmark's
    time budget of about 70 s per run."""

    name = "release_increment"
    warmup_ops = 2
    timed_ops = 3
    probes = ()
    side = ("dedup.signatures", "dedup.candidates", "dedup.verify",
            "dedup.antijoin", "cacheutil.release")
    changed = "R"
    threshold = 0.5  # near-dedup's Jaccard threshold
    jaccard_sample = 20  # dropped documents re-checked in Python

    def __init__(self, inputs: dict, in_dir: str):
        self.spark = None  # set by the runner for each session
        self.inputs = inputs
        self.path = os.path.join(in_dir, inputs["lineitem"])
        self.root_base = os.path.join(in_dir, "release")
        self.rows = inputs["rows"]
        self.n_setups = 0
        self.rev = 0  # v1 holds the input as is; op k adds k to split R
        self.docs_path = os.path.join(in_dir, inputs["dedup"]["documents"])

    def _frame(self, rev: int):
        from pyspark.sql import functions as F

        li = self.spark.read.parquet(self.path)
        return li.withColumn(
            "l_quantity",
            F.when(F.col("split") == self.changed,
                   F.col("l_quantity") + F.lit(float(rev)))
            .otherwise(F.col("l_quantity")),
        )

    def setup(self) -> None:
        """Publish v1 of a fresh release."""
        self.n_setups += 1
        self.root = f"{self.root_base}{self.n_setups}"
        self._publish(self._frame(0))

    def _publish(self, df) -> dict:
        from goodtables_pandas_py_spark.extensions.pipeline import (
            write_release_increment,
        )

        return write_release_increment(df, self.root, keep_versions=3)

    def _readback(self) -> dict:
        from pyspark.sql import functions as F

        from goodtables_pandas_py_spark.extensions.pipeline import read_release

        df, _ = read_release(self.spark, self.root)
        rows = df.groupBy("split").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("q"),
            F.sum(F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("k"),
        ).collect()
        return {r["split"]: [r["n"], r["q"], r["k"]] for r in rows}

    def op(self, i: int) -> tuple:
        self.rev += 1
        manifest = self._publish(self._frame(self.rev))
        return self.rev, manifest, self._readback()

    def check(self, out: tuple) -> list[str]:
        rev, manifest, got = out
        bad = []
        rewritten = manifest["incremental"]["rewritten"]
        if rewritten != [self.changed]:
            bad.append(f"rewritten {rewritten} != [{self.changed!r}]")
        want = {}
        for split, (n, q, k) in self.inputs["expected"]["splits"].items():
            q += n * rev if split == self.changed else 0
            want[split] = [n, q, k]
        if got != want:
            bad.append(f"readback {got} != expected {want}")
        return bad

    def phases(self, tracer) -> list[str]:
        """The op's two steps, one span each, then the near-dedup side
        phases."""
        self.rev += 1
        with tracer.span("pipeline.publish") as c:
            manifest = self._publish(self._frame(self.rev))
            inc = manifest["incremental"]
            c["parts_rewritten"] = len(inc["rewritten"])
            c["parts_reused"] = len(inc["reused"])
        with tracer.span("pipeline.readback"):
            got = self._readback()
        return self.check((self.rev, manifest, got)) + self._dedup_phases(
            tracer)

    def _dedup_phases(self, tracer) -> list[str]:
        """``near_dedup(threshold=0.5, persist_banded=True,
        persist_sets=True)`` one stage at a time. Signatures and
        candidates are probes (each later stage recomputes them); the
        verified pairs are persisted, so the anti-join runs alone."""
        from goodtables_pandas_py_spark.cacheutil import unpersist_scan_state
        from goodtables_pandas_py_spark.extensions import dedup

        docs = self.spark.read.parquet(self.docs_path)
        with tracer.span("dedup.signatures"):
            dedup.banded_signatures(docs).write.format("noop").mode(
                "overwrite").save()
        with tracer.span("dedup.candidates") as c:
            cands = dedup.minhash_candidates(docs, persist_banded=True)
            c["pairs"] = n_cands = cands.count()
        with tracer.span("dedup.verify") as c:
            pairs = dedup.minhash_dedup_pairs(
                docs, threshold=self.threshold, persist_banded=True,
                persist_sets=True).persist()
            c["pairs"] = n_pairs = pairs.count()
            c["yield"] = n_pairs / n_cands if n_cands else 0.0
        with tracer.span("dedup.antijoin") as c:
            kept = [r[0] for r in dedup.near_dedup(
                docs, threshold=self.threshold, pairs=pairs,
            ).select("doc_id").collect()]
            c["rows_out"] = len(kept)
        with tracer.span("cacheutil.release") as c:
            c["frames"] = (unpersist_scan_state(cands, blocking=True)
                           + unpersist_scan_state(pairs, blocking=True))
            pairs.unpersist(blocking=True)
        return self.check_dedup(kept)

    def check_dedup(self, kept: list[int]) -> list[str]:
        """The kept ids are exactly the expected ones, and a fixed sample
        of the dropped documents is at or above the threshold against the
        document kept for its cluster, by exact Jaccard from the text."""
        import pyarrow.parquet as pq

        from gen import jaccard

        exp = self.inputs["dedup"]
        bad = []
        if sorted(kept) != exp["kept"]:
            extra = sorted(set(kept) - set(exp["kept"]))[:10]
            missing = sorted(set(exp["kept"]) - set(kept))[:10]
            bad.append(f"near-dedup kept {len(kept)} ids, expected "
                       f"{len(exp['kept'])}: extra {extra} missing {missing}")
        t = pq.read_table(self.docs_path).to_pydict()
        text = dict(zip(t["doc_id"], t["text"]))
        for gone, rep in exp["dropped"][:self.jaccard_sample]:
            j = jaccard(text[gone], text[rep])
            if j < self.threshold:
                bad.append(f"dropped doc {gone} has Jaccard {j:.3f} to "
                           f"kept doc {rep}, below {self.threshold}")
        return bad


WORKLOADS = {w.name: w for w in (ValidateCsv, ReleaseIncrement)}
