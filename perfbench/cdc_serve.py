"""cdc_serve: CDC ingest and serving on one seeded LakeTable, driven by
one closed-loop client.

The client repeats a fixed cycle of requests, so every run has the same
mix:

- `epoch`: replay one zipf-skewed CDC epoch, copy-on-write, through the
  shipped `recipes/clean.wgl` recipe (regex masking, JEXL `set-column`,
  `hash`, `filter-row`);
- `lookup`: zipf-keyed point lookup (`scan` pinning both key columns);
- `scan`: non-key predicate `commit IN (...)`, bloom- and stats-pruned;
- `upsert`: a small merge-on-read upsert, which leaves pending deltas
  that later reads resolve;
- `changes`: a changelog read (`table_changes`) over the last writes;
- `compact`: folds the pending deltas back into the base.

Events come from one `generate_events` stream written as epoch-
partitioned parquet (the binlog landing zone): epoch 0 seeds the table,
and an epoch's read prunes to one partition. Upsert batches are written
to one parquet file with it. `write_amp` divides the bytes written under the
table directory by the input payload bytes (UTF-8 strings, 8 per
number). Every answer is checked against an in-memory key model: seeded
by a SQL `row_number()` last-writer-wins over the seed epoch, then
advanced by a Python last-writer-wins over each epoch's events with the
recipe's row effects, and by each upsert.
"""

from __future__ import annotations

import os
import random
import re

from harness import (
    RECIPE_PATH, JobCounter, Workload, listing, median, now,
    percentile, table_layout, written,
)

EPOCH = 5_000
MAX_EPOCHS = 3
N_REPOS, N_PATHS = 100, 200
BUCKETS = 4
# event seqs are spaced so that upserts between two epochs (which take
# seqs just above the table's high-water mark) never collide with the
# next epoch's events
SEQ_GAP = 1000
UPSERT_ROWS = 20
# the upsert follows the epoch so that every lookup resolves pending
# deltas (a mix of lookups with and without deltas has a two-mode median)
CYCLE = (
    "epoch", "upsert", "lookup", "scan", "lookup", "changes", "lookup",
    "lookup", "compact",
)
SSN = re.compile(r"ssn: \d{3}-\d{2}-\d{4}")
EMAIL = re.compile(r"user\d+@example\.com")


def load_recipe() -> list[str]:
    with open(RECIPE_PATH) as f:
        return [
            ln for ln in (x.strip() for x in f.read().splitlines())
            if ln and not ln.startswith("//")
        ]


def masked(content: str) -> str:
    """The recipe's effect on `content`, re-expressed independently."""
    return EMAIL.sub("EMAIL", SSN.sub("ssn: MASKED", content))


def last_writes(events) -> dict:
    """Last writer per key among one epoch's events, recipe applied:
    key -> (seq, (commit, content)), or (seq, None) for a delete."""
    out = {}
    for r in sorted(events, key=lambda r: r["seq"]):
        key = (r["repo"], r["path"])
        if r["op"] == "delete":
            out[key] = (r["seq"], None)
        elif r["content"] is not None:
            out[key] = (r["seq"], (r["commit"], masked(r["content"])))
    return out


def payload_bytes(row) -> int:
    """Bytes of one input record: UTF-8 strings, 8 per number."""
    n = 0
    for v in (row.asDict() if hasattr(row, "asDict") else row).values():
        if isinstance(v, str):
            n += len(v.encode())
        elif isinstance(v, (int, float)):
            n += 8
    return n


class CdcServe(Workload):
    OP = "request"

    # ------------------------------------------------------------ setup
    def generate(self, d: str) -> None:
        from pyspark.sql import functions as F
        from wrangler_spark.cdc import events as cdc_events

        t = now()
        # epoch 0 seeds the table; epochs 1..MAX_EPOCHS are replayed
        events = cdc_events.generate_events(
            self.spark, EPOCH * (MAX_EPOCHS + 1), epoch_size=EPOCH,
            seed=self.seed * 7 + 1, n_repos=N_REPOS, n_paths_per_repo=N_PATHS,
        ).withColumn("seq", F.col("seq") * SEQ_GAP)
        events.write.partitionBy("epoch").parquet(os.path.join(d, "events"))
        self.gen_s.append(now() - t)
        self.events = self.spark.read.parquet(os.path.join(d, "events"))
        # one file, one partition: upsert numbers rows with
        # monotonically_increasing_id above the high-water mark, so row i
        # of a batch gets seq base + i + 1. Columns the table has beyond
        # these are null-filled by the merge.
        rows = [
            (b, r["repo"], r["path"], r["commit"], r["lang"], r["content"], r["n_chars"])
            for b in range(MAX_EPOCHS + 1) for r in self._upsert_rows(b)
        ]
        self.spark.createDataFrame(
            rows,
            "batch int, repo string, path string, commit string, lang string, "
            "content string, n_chars int",
        ).coalesce(1).write.parquet(os.path.join(d, "upserts"))
        self.upserts = self.spark.read.parquet(os.path.join(d, "upserts"))

    def build(self, d: str) -> None:
        from wrangler_spark import compile_recipe
        from wrangler_spark.cdc.events import repo_files_schema
        from wrangler_spark.cdc.replay import Replayer
        from wrangler_spark.lake.table import LakeTable

        spark = self.spark
        self.table_path = os.path.join(d, "table")
        table = LakeTable.create(
            spark, self.table_path, repo_files_schema(), ["repo", "path"],
            num_buckets=BUCKETS, properties={"bloom.cols": "commit"},
        )
        t = now()
        recipe = compile_recipe(load_recipe())
        self.compile_s = now() - t
        self.replayer = Replayer(table, os.path.join(d, "ckpt"), recipe=recipe)
        self.replayer.replay_epoch(self.events, 0)
        self.table = self.replayer.table
        self.next_epoch = 1
        self.n_upserts = 0

    def expect(self) -> None:
        self._seed_state(self.events.filter("epoch = 0"))
        self.keys = sorted(self.model)
        self.history: list[dict] = []
        self.rng = random.Random(self.seed * 1_000_003)

    def warm(self) -> None:
        """One request of each kind but `epoch`, whose path the seed
        epoch of every build has already run."""
        for kind in ("upsert", "lookup", "scan", "changes", "compact"):
            self.outcome.op(*self._do(kind, None))
            if kind == "upsert":
                self._settle()

    def _upsert_rows(self, b: int) -> list[dict]:
        """Upsert batch b: UPSERT_ROWS rows. Half take zipf-skewed keys
        shaped like the event stream's (those whose hashed language is
        Python exist in the table), half are new keys. No key appears
        twice in a batch (its winner would be arbitrary)."""
        rng = random.Random(self.seed * 7919 + b)
        rows, seen = [], set()
        for i in range(UPSERT_ROWS):
            if i % 2 == 0:
                while True:
                    r = int(N_REPOS * rng.random() ** 2)
                    p = int(N_PATHS * rng.random() ** 1.5)
                    key = (f"org{r % 10}/repo{r}", f"src/m{p % 20}/f{p}.py")
                    if key not in seen:
                        break
                seen.add(key)
            else:
                key = (f"org9/served{b}", f"new/f{i}.txt")
            content = f"served batch {b} row {i} seed {self.seed}\n" * 4
            rows.append({
                "repo": key[0], "path": key[1],
                "commit": f"{self.seed:08x}{b:08x}{i:08x}".ljust(40, "0"),
                "lang": "text", "content": content, "n_chars": len(content),
            })
        return rows

    def _seed_state(self, events) -> None:
        """Expected state after the seed epoch: the recipe's row effects
        in SQL, then a row_number() last-writer-wins. Deleted keys keep
        their tombstone's seq."""
        events.createOrReplaceTempView("bench_seed_events")
        rows = self.spark.sql(
            r"""
            SELECT repo, path, op, seq, commit, content FROM (
              SELECT repo, path, op, seq, commit,
                regexp_replace(
                  regexp_replace(content, 'ssn: \\d{3}-\\d{2}-\\d{4}', 'ssn: MASKED'),
                  'user\\d+@example\\.com', 'EMAIL') AS content,
                row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM bench_seed_events
              WHERE NOT (content IS NULL AND op <> 'delete')
            ) WHERE rn = 1
            """
        ).collect()
        self.seqs = {(r["repo"], r["path"]): r["seq"] for r in rows}
        self.model = {
            (r["repo"], r["path"]): (r["commit"], r["content"])
            for r in rows if r["op"] != "delete"
        }

    # ------------------------------------------------------------ model
    def _apply(self, v0: int, writes: dict) -> None:
        """Advance the model by one committed write: key -> (seq, new
        value or None for a delete). Last writer wins by seq."""
        prior = {}
        for key, (seq, val) in writes.items():
            if seq <= self.seqs.get(key, -1):
                continue
            self.seqs[key] = seq
            prior[key] = self.model.get(key)
            if val is None:
                self.model.pop(key, None)
            else:
                if key not in self.model:
                    self.keys.append(key)
                self.model[key] = val
        self.history.append({"v0": v0, "prior": prior})

    # ------------------------------------------------------------ requests
    def _do(self, kind, plan):
        if kind == "epoch":
            return self._epoch()
        if kind == "lookup":
            return self._lookup(self._zipf_key(), plan)
        if kind == "scan":
            return self._scan(plan)
        if kind == "upsert":
            return self._upsert()
        if kind == "compact":
            return self._compact()
        return self._changes()

    def _epoch(self):
        e = self.next_epoch
        self.next_epoch += 1
        v0 = self.table.version
        res = self.replayer.replay_epoch(self.events, e)
        self.table = self.replayer.table
        self.pending = (v0, e)
        ok = not res.get("skipped") and res.get("events") == EPOCH
        return ok, f"epoch {e}: {res.get('events')} events, skipped={res.get('skipped')}"

    def _zipf_key(self):
        return self.keys[int(len(self.keys) * self.rng.random() ** 2)]

    def _lookup(self, key, plan):
        rows = self.table.scan(
            [("repo", "=", key[0]), ("path", "=", key[1])], plan_out=plan
        ).select("commit", "content").collect()
        want = self.model.get(key)
        got = [(r["commit"], r["content"]) for r in rows]
        return got == ([want] if want else []), f"lookup {key}: {len(got)} rows"

    def _scan(self, plan):
        live = [self.model.get(self._zipf_key()) for _ in range(5)]
        commits = sorted({v[0] for v in live if v})
        n = self.table.scan([("commit", "in", commits)], plan_out=plan).count()
        want = sum(1 for c, _ in self.model.values() if c in commits)
        return n == want, f"scan commit in {len(commits)}: {n} rows, want {want}"

    def _upsert(self):
        b = self.n_upserts
        self.n_upserts += 1
        rows = self._upsert_rows(b)
        v0 = self.table.version
        base = int(self.table.snap.get("properties", {}).get("max_seq", 0))
        self.table.upsert(self.upserts.filter(f"batch = {b}").drop("batch"), mode="mor")
        self.pending = (v0, [{**r, "seq": base + i + 1} for i, r in enumerate(rows)])
        return self.table.version == v0 + 1, f"upsert {b}: version {v0} -> {self.table.version}"

    def _compact(self):
        """Fold pending deltas into the base; answers must not change,
        which the following requests check."""
        had = bool(self.table.delta_rels())
        res = self.table.compact()
        left = self.table.delta_rels()
        ok = not left and (res["compacted_buckets"] > 0) == had
        return ok, f"compact: {res['compacted_buckets']} buckets, {len(left)} deltas left"

    def _changes(self):
        """Net changes over the last one to three writes."""
        k = self.rng.randint(1, min(3, len(self.history)))
        window = self.history[-k:]
        v0 = window[0]["v0"]
        rows = self.table.table_changes(v0).select(
            "repo", "path", "content", "_change_op"
        ).collect()
        before = {}
        for h in window:
            for key, val in h["prior"].items():
                before.setdefault(key, val)
        want = {}
        for key, old in before.items():
            new = self.model.get(key)
            if old == new:
                continue
            op = "insert" if old is None else "delete" if new is None else "update"
            want[key] = (op, new[1] if new else None)
        got = {(r["repo"], r["path"]): (r["_change_op"], r["content"]) for r in rows}
        return got == want and len(rows) == len(want), (
            f"changes from v{v0}: {len(rows)} rows, want {len(want)}"
        )

    def _settle(self) -> int:
        """Record the last write in the model, outside the timed request;
        returns the write's input payload bytes."""
        v0, what = self.pending
        self.pending = None
        if isinstance(what, int):
            rows = self.events.filter(f"epoch = {what}").select(
                "seq", "op", "repo", "path", "commit", "lang", "content"
            ).collect()
            self._apply(v0, last_writes(rows))
        else:
            rows = what
            self._apply(v0, {
                (r["repo"], r["path"]): (r["seq"], (r["commit"], r["content"])) for r in rows
            })
        return sum(payload_bytes(r) for r in rows)

    # ------------------------------------------------------------ measure
    def measure(self, tracer=None, leave: int = 0) -> dict:
        """Whole cycles until `seconds` have passed, keeping the epochs of
        `leave` cycles for a later pass."""
        lat: dict[str, list[float]] = {k: [] for k in CYCLE}
        plans, per_jobs, cpu = [], [], []
        in_bytes = out_bytes = 0
        jobs = JobCounter(self.spark) if tracer else None
        t0 = now()
        per_cycle = CYCLE.count("epoch")
        while self.next_epoch - 1 + per_cycle * (1 + leave) <= MAX_EPOCHS:
            for kind in CYCLE:
                plan = {} if tracer is not None and kind in ("lookup", "scan") else None
                if kind == "epoch" and tracer is not None:
                    self._transform_probe(tracer, self.next_epoch)
                    jobs.take()
                writes = kind in ("epoch", "upsert", "compact")
                before = listing(self.table_path) if writes else None
                c = self.env.cpu_s()
                t = now()
                try:
                    if tracer is not None:
                        with tracer.op(self.OP):
                            ok, what = self._do(kind, plan)
                    else:
                        ok, what = self._do(kind, plan)
                except Exception as ex:  # noqa: BLE001 — counted; the run stops
                    self.outcome.op(False, f"{kind} raised {type(ex).__name__}: {ex}")
                    return self._summary(lat, cpu, plans, per_jobs, in_bytes, out_bytes)
                lat[kind].append(now() - t)
                cpu.append(self.env.cpu_s() - c)
                self.outcome.op(ok, what)
                if writes:
                    out_bytes += written(before, listing(self.table_path))[1]
                if kind == "epoch" and jobs is not None:
                    per_jobs.append(jobs.take())
                if kind in ("epoch", "upsert"):
                    in_bytes += self._settle()
                if plan:
                    plan["delta_files"] = len(self.table.delta_rels(plan["delta_buckets"]))
                    plans.append({"kind": kind, **plan, **table_layout(self.table)})
            if now() - t0 >= self.seconds:
                break
        return self._summary(lat, cpu, plans, per_jobs, in_bytes, out_bytes)

    def _summary(self, lat, cpu, plans, per_jobs, in_bytes, out_bytes) -> dict:
        all_lat = [x for xs in lat.values() for x in xs]
        busy = sum(all_lat)
        epoch_busy = sum(lat["epoch"])
        return {
            "lat": lat,
            "plans": plans,
            "jobs": per_jobs,
            "events_per_s": EPOCH * len(lat["epoch"]) / epoch_busy if epoch_busy else 0.0,
            "requests_per_s": len(all_lat) / busy if busy else 0.0,
            "lookup_s_p50": median(lat["lookup"]),
            "write_amp": out_bytes / in_bytes if in_bytes else 0.0,
            "mean_op_s": busy / len(all_lat) if all_lat else 0.0,
            "cpu_s_per_request": sum(cpu) / len(cpu) if cpu else 0.0,
        }

    def _transform_probe(self, tracer, e: int) -> None:
        """Traced runs only: force the epoch's recipe output to a noop
        sink, outside the epoch's own span."""
        batch = self.events.filter(f"epoch = {e}")
        with tracer.op("transform_probe"):
            with tracer.span("recipe.transform", "recipe") as sp:
                ok, err = self.replayer.recipe.apply(batch)
                ok.write.format("noop").mode("overwrite").save()
            sp.attrs["rows_in"] = batch.count()
            sp.attrs["rows_out"] = ok.count()
            sp.attrs["error_rows"] = err.count() if err is not None else 0

    # ------------------------------------------------------------ verify
    def verify(self) -> None:
        """The whole table against the model: row by row, and by the
        order-independent `state_digest` of both."""
        from wrangler_spark.cdc.replay import final_state_sha256, state_digest
        from wrangler_spark.lake.table import LakeTable

        df = LakeTable.load(self.spark, self.table_path).read()
        rows = df.select("repo", "path", "commit", "content").collect()
        got = {(r["repo"], r["path"]): (r["commit"], r["content"]) for r in rows}
        self.outcome.op(got == self.model and len(rows) == len(got),
                        f"final table: {len(rows)} rows, model {len(self.model)}")
        model = self.spark.createDataFrame(
            [(k[0], k[1], v[1]) for k, v in self.model.items()],
            "repo string, path string, content string",
        )
        want = state_digest(final_state_sha256(model))
        have = state_digest(final_state_sha256(df))
        self.outcome.op(have == want, f"final digest {have} != model digest {want}")

    # ------------------------------------------------------------ report
    def e2e(self, setup_s: float, m: dict) -> dict:
        return {
            "setup_s": setup_s,
            "ingest_per_s": m["events_per_s"],
            "requests_per_s": m["requests_per_s"],
            "request_s_p50": m["lookup_s_p50"],
            "cpu_s_per_request": m["cpu_s_per_request"],
            "write_amp": m["write_amp"],
        }

    def detail(self, m: dict) -> list[tuple[str, float, str]]:
        lat = m["lat"]
        rows = [
            ("events_per_s", m["events_per_s"], "1/s"),
            ("epoch_s_p50", median(lat["epoch"]), "s"),
            ("lookup_s_p50", median(lat["lookup"]), "s"),
        ]
        p90, beyond = percentile(lat["lookup"], 90)
        if beyond >= 10:
            rows.append(("lookup_s_p90", p90, "s"))
        rows += [
            ("scan_s_p50", median(lat["scan"]), "s"),
            ("changes_s_p50", median(lat["changes"]), "s"),
            ("upsert_s_p50", median(lat["upsert"]), "s"),
            ("compact_s_p50", median(lat["compact"]), "s"),
            ("serve_ops_per_s", m["requests_per_s"], "1/s"),
            ("write_amp", m["write_amp"], "ratio"),
            ("requests", sum(len(x) for x in lat.values()), "count"),
        ]
        return rows

    def layers(self, tracer, m: dict) -> dict:
        from tracing import mean, write_layers

        probes = tracer.by_name("recipe.transform")
        plans = [p for p in m["plans"] if "base_rels" in p]
        lookups = [p for p in plans if p["kind"] == "lookup"]
        considered = sum(
            len(p["base_rels"]) + p["skipped_files"] + p["bloom_skipped_files"] for p in plans
        )
        skipped = sum(p["skipped_files"] + p["bloom_skipped_files"] for p in plans)

        def spans(name):
            return [sp.dur for sp in tracer.by_name(name, self.OP)]

        return {
            "cdc.events.gen_s": median(self.gen_s),
            "recipe.compile_s": self.compile_s,
            "recipe.plan_s": mean(spans("recipe.plan")),
            "recipe.transform_s": mean(sp.dur for sp in probes),
            "recipe.rows_in": mean(sp.attrs["rows_in"] for sp in probes),
            "recipe.rows_out": mean(sp.attrs["rows_out"] for sp in probes),
            "recipe.error_rows": mean(sp.attrs["error_rows"] for sp in probes),
            "cdc.replay_epoch_s": mean(spans("cdc.replay_epoch")),
            "cdc.checkpoint_s": mean(spans("cdc.checkpoint")),
            "cdc.jobs_per_epoch": mean(j["jobs"] for j in m["jobs"]),
            "cdc.tasks_per_epoch": mean(j["tasks"] for j in m["jobs"]),
            "cdc.failed_tasks": sum(j["failed_tasks"] for j in m["jobs"]),
            **write_layers(tracer, self.OP),
            # the read side of the merge-on-read trade, as each lookup saw it
            **{
                f"lake.{k}": mean(p[k] for p in lookups)
                for k in ("delta_bytes_pending", "files_live", "files_per_bucket_max")
            },
            "lake.scan_plan_s": mean(spans("lake.scan_plan")),
            "lake.files_read_per_lookup": mean(
                len(p["base_rels"]) + p["delta_files"] for p in lookups
            ),
            "lake.prune_frac": skipped / considered if considered else 0.0,
            "lake.table_changes_s": mean(spans("lake.table_changes")),
        }
