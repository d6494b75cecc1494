"""The round-loop crawl driver — micro-batched frontier rounds with
atomic per-round checkpoints and crash-resume.

The reference crawls continuously with goroutines and loses everything on
a crash (no persistence anywhere). This driver is the micro-batch
analogue of its job loop (RunJob, job.go:599-673 + fetchbot queue): each
frontier round is one micro-batch; termination is the all-hosts-idle
condition (frontier empty, fetch.go:430-444 AutoClose).

Checkpointing follows the Iceberg commit model (an Iceberg catalog is not
available in this sandbox, so the same protocol is implemented over
parquet + a JSON manifest): per round, every output table is written to
``<ckpt>/round=<r>/<table>/`` and a single ``_COMMIT.json`` is renamed
into place last. A round is visible iff its manifest exists, so a crash
mid-round leaves the previous round authoritative and ``resume()``
restarts from it — frontier offsets + seen-set + counters included.
"""

from __future__ import annotations

import threading
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from functools import partial
from typing import List, Optional
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ideacrawler_spark.config import DelaySampler, JobSpec
from ideacrawler_spark.functions.urlnorm import canonicalize
from ideacrawler_spark.operators import bloom
from ideacrawler_spark.operators.dedup import seen_row_bytes
from ideacrawler_spark.operators.sqltext import Views, quote, release
from ideacrawler_spark.plans.catalog import ParquetManifestCatalog
from ideacrawler_spark.plans.round import FRONTIER_SCHEMA, run_round

SEEN_SCHEMA = T.StructType([T.StructField("key", T.StringType())])


def _frontier_schema() -> T.StructType:
    return T.StructType.fromDDL(FRONTIER_SCHEMA)


def _state_schemas() -> dict:
    """The round-state tables resume() reads, with the schemas they are
    written with: reading them needs no footer-inference job."""
    return dict(frontier_next=_frontier_schema(), seen_init=SEEN_SCHEMA,
                seen_delta=SEEN_SCHEMA, seen_full=SEEN_SCHEMA)


def _local_frame(spark: SparkSession, rows: List[dict],
                 schema: T.StructType) -> DataFrame:
    """Rows held in Python as a JVM ``LocalTableScan``, built through Arrow.

    ``createDataFrame(list)`` makes a pickled ``parallelize`` RDD instead,
    and every action that reads the frame re-reads it through Python
    tasks; the seed and push rows and the robots dim are read by every
    action of a round."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


RULE_FIELDS = ("rule_seq", "rule_path", "allow", "fetch_status")


def robots_groups(robots: DataFrame, useragent: Optional[str]):
    """robots rows → (one row per host with the UA-selected rule group,
    its schema).

    Group selection = FindGroup (robotstxt.go:160-181): '*' is the
    starting candidate with prefix length 1; a named group must be a
    STRICTLY longer prefix of the client UA to displace it — so a 1-char
    named UA loses to '*'. DomainOpt.Useragent (job.go:669 →
    FindGroup(f.UserAgent), fetch.go:473); goclient default "Fetchbot",
    lowercased: FindGroup compares case-insensitively.

    Only the candidate groups' rows reach the driver, through one narrow
    job (a filter, no shuffle); the selection runs there. A group's rules
    are sorted as Spark's ``array_sort`` sorts their structs (field by
    field, a null field first), i.e. by rule_seq, so the UDF sees FILE
    ORDER (findRule's strict-'>' means the first rule in file order wins
    ties); its crawl delay is the largest non-null one."""
    ua = (useragent or "Fetchbot").lower()
    if "rule_seq" not in robots.columns:
        robots = robots.withColumn("rule_seq", F.lit(0))
    fields = {f.name: f for f in robots.schema.fields}
    schema = T.StructType([
        fields["host"],
        T.StructField("crawl_delay", fields["crawl_delay"].dataType),
        T.StructField("rules", T.ArrayType(
            T.StructType([fields[n] for n in RULE_FIELDS]), False), False),
    ])
    star = "lower(user_agent) = '*'"
    with Views(robots.sparkSession) as v:
        rows = v.sql(
            f"SELECT host, user_agent, crawl_delay, {', '.join(RULE_FIELDS)}, "
            f"{star} AS _star, length(user_agent) AS _len "
            f"FROM {v.add(robots, 'robots')} WHERE {star} OR "
            f"(length(user_agent) >= 1 AND startswith({quote(ua)}, "
            "lower(user_agent)))").collect()
    groups: dict = {}
    for r in rows:
        groups.setdefault((r["host"], r["user_agent"]), []).append(r)
    best: dict = {}
    for (host, agent), rs in groups.items():
        # ties at rank 1 go to '*' (Go needs strictly greater to displace)
        star_group = bool(rs[0]["_star"])
        key = (-(1 if star_group else rs[0]["_len"]), -star_group, agent)
        if host not in best or key < best[host][0]:
            best[host] = (key, rs)
    out = []
    for host, (_, rs) in best.items():
        delays = [r["crawl_delay"] for r in rs if r["crawl_delay"] is not None]
        out.append(dict(
            host=host,
            crawl_delay=max(delays, key=lambda d: (d != d, d), default=None),
            rules=sorted(
                ({n: r[n] for n in RULE_FIELDS} for r in rs),
                key=lambda rule: [(rule[n] is not None, rule[n])
                                  for n in RULE_FIELDS]),
        ))
    return out, schema


class CrawlEngine:
    """Run one crawl job against a pages table (the simulated web).

    Parameters
    ----------
    pushes : list[dict] | None
        Client pushes (AddPages, worker.go:219-269): dicts with
        round/url/method/meta/seq/no_callback. Unnormalized on purpose
        (job.go:696) and exempt from the seen-set.
    checkpoint_dir : str | None
        Enables atomic per-round commits + resume. Without it, rounds are
        localCheckpoint()ed in memory (lineage still truncated).
    """

    def __init__(
        self,
        spark: SparkSession,
        spec: JobSpec,
        pages: DataFrame,
        robots: Optional[DataFrame] = None,
        pushes: Optional[List[dict]] = None,
        checkpoint_dir: Optional[str] = None,
        shuffle_partitions: int = 32,
        bloom_shards: int = 64,
        seen_compact_every: int = 8,
        expire_on_compact: bool = True,
    ):
        self.spark = spark
        self.spec = spec
        self.pages = pages
        # the robots dim never changes, and every action of every round
        # broadcasts it: it is built ONCE on the driver into a driver-local
        # frame (broadcast-small, so it fits on the driver anyway) and no
        # action rebuilds it from the caller's robots rows
        robots_rows = []
        self.robots_host = None
        if robots is not None:
            robots_rows, schema = robots_groups(robots, spec.useragent)
            self.robots_host = _local_frame(spark, robots_rows, schema)
        # literal upper bound on any host's budget (max over the robots
        # dim's crawl delays + the no-robots default) — computed ONCE from
        # the collected dim; lets admission use WindowGroupLimit partial
        # top-k instead of full window sorts (admission.py)
        self._host_budget_max = self._max_host_budget(robots_rows)
        self.pushes = sorted(pushes or [], key=lambda p: (int(p.get("round", 0)), int(p.get("seq", 0))))
        self._push_lock = threading.Lock()  # add_pushes vs injection
        self.ckpt = checkpoint_dir
        # all round-state durability goes through the catalog seam
        # (plans/catalog.py): parquet+manifest here, Iceberg in production
        self.catalog = (ParquetManifestCatalog(spark, checkpoint_dir,
                                               _state_schemas())
                        if checkpoint_dir else None)
        self.nparts = shuffle_partitions
        self.bloom_shards = bloom_shards
        # P4: randomized per-request delay sampler (doer.go:93-112); with
        # MaxDelay<=MinDelay it consumes no draws and budgets are fixed
        self._sampler = DelaySampler.for_spec(spec)
        self._cancelled = False
        self._frontier_count = 0  # tracked exactly; avoids count() jobs
        # seen-set checkpoints are per-round DELTAS (only this round's new
        # keys — O(|new|) IO), compacted to one full table every
        # ``seen_compact_every`` rounds (the Iceberg snapshot/compaction
        # model; VERDICT r02 #2: full rewrites made total crawl IO
        # O(N * rounds) at the 10^10-URL target)
        self.seen_compact_every = max(1, seen_compact_every)
        # after a committed compaction, superseded deltas / older blooms /
        # stale frontiers are dead weight forever — expire them (the
        # Iceberg expire-snapshots rhythm, VERDICT r03 #6)
        self.expire_on_compact = expire_on_compact
        self._seen_parts: List[DataFrame] = []
        # the seen-set's exact row count and hash-build bytes (None when a
        # resumed checkpoint does not record them); run_round picks its
        # anti-join by the bytes
        self.seen_rows: Optional[int] = None
        self.seen_bytes: Optional[int] = None
        # mutable crawl state
        self.frontier: Optional[DataFrame] = None
        self.seen: Optional[DataFrame] = None
        self.round = 0
        self.seq_offset = 0
        self.fetch_seq_offset = 0
        self.metrics: List[dict] = []
        self._shipped: List[DataFrame] = []
        self._order: List[DataFrame] = []
        self._outlinks: List[DataFrame] = []

    # ------------------------------------------------------------------
    def _max_host_budget(self, robots_rows: List[dict]) -> int:
        budgets = [self.spec.host_budget(0.0)]
        if not self.spec.impolite:
            delays = {r["crawl_delay"] for r in robots_rows}
            budgets += [
                self.spec.host_budget(float(d)) for d in delays if d is not None
            ]
        return max(budgets)

    # ------------------------------------------------------------------
    def _empty_frontier(self) -> DataFrame:
        return _local_frame(self.spark, [], _frontier_schema())

    def _init_state(self):
        spec = self.spec
        rows = []
        if spec.seed_url:
            seed_norm = canonicalize(spec.seed_url, unsafe=spec.unsafe_normalize)
            if seed_norm is None:
                # Go url.Parse(SeedUrl) fails ⇒ the job never starts
                # (worker.go:112-120 jobStatusFailureMessage)
                self.pushes = []
                self.frontier = self._empty_frontier()
                self.seen = _local_frame(self.spark, [], SEEN_SCHEMA)
                self._seen_parts = [self.seen]
                self.seen_rows, self.seen_bytes = 0, 0
                self.bloom_dir = None
                return
            rows.append(
                dict(
                    depth=0, seq=0, url=spec.seed_url,
                    url_norm=seed_norm,
                    host=(urlsplit(spec.seed_url).hostname or "").lower(),
                    anchor="", meta="", method="GET", pushed=False,
                    no_callback=False,
                )
            )
            self.seq_offset = 1
        self.frontier = _local_frame(self.spark, rows, _frontier_schema())
        self._frontier_count = len(rows)
        # seed enters the seen-set AS GIVEN, unnormalized (job.go:776)
        seen_rows = [dict(key=spec.seed_url)] if spec.seed_url else []
        self.seen_rows = len(seen_rows)
        self.seen_bytes = sum(seen_row_bytes(r["key"]) for r in seen_rows)
        local_seen = _local_frame(self.spark, seen_rows, SEEN_SCHEMA)
        self.seen = local_seen
        # Bloom shards mirror the seen-set (superset invariant: every seen
        # key must be folded in before it can be anti-joined against)
        self.bloom_dir = None
        if self.ckpt:
            # delta-checkpoint base: the initial seen rows, written once
            self.seen = self.catalog.write_aux(local_seen, "seen_init")
            init_dir = self.catalog.aux_path("bloom_init")
            # the rows are driver-local: folded on the driver, no Python task
            bloom.update_shards(
                local_seen.select(F.xxhash64("key").alias("key_hash")),
                None, init_dir, n_shards=self.bloom_shards,
                n_keys=len(seen_rows),
            )
            self.bloom_dir = init_dir
        self._seen_parts = [self.seen]

    def _inject_pushes(self, rnd: int):
        """Move every pending push with round <= rnd into the frontier.

        Injection CONSUMES entries from ``self.pushes`` (ADVICE r03: a
        push arriving while round ``rnd`` is executing is stamped ``rnd``
        but ``rnd``'s injection already ran — with exact ``==`` matching
        it was silently lost; ``<=`` + consumption injects it at the next
        round boundary instead, the AddPages contract)."""
        with self._push_lock:
            snapshot = list(self.pushes)
        ps = [p for p in snapshot if int(p.get("round", 0)) <= rnd]
        if not ps:
            return
        rest = [p for p in snapshot if int(p.get("round", 0)) > rnd]
        rows = []
        dropped_stream = False
        for p in ps:
            pnorm = canonicalize(p["url"])
            if pnorm is None:
                # newCrawlCommand's url.Parse error RETURNS out of the
                # push-handling goroutine (job.go:700-704): the bad push
                # AND every later push are dropped.
                dropped_stream = True
                break
            rows.append(
                dict(
                    depth=0, seq=self.seq_offset, url=p["url"],
                    url_norm=pnorm,
                    host=(urlsplit(p["url"]).hostname or "").lower(),
                    anchor="", meta=p.get("meta", "") or "",
                    method=p.get("method", "GET") or "GET", pushed=True,
                    no_callback=bool(p.get("no_callback", False)),
                )
            )
            self.seq_offset += 1
        with self._push_lock:
            # add_pushes only appends, so anything past the snapshot is a
            # new arrival and survives (even when a bad URL drops the
            # snapshot's stream — the new arrival is a later AddPages call)
            arrivals = self.pushes[len(snapshot):]
            self.pushes = ([] if dropped_stream else rest) + arrivals
        self.frontier = self.frontier.unionByName(
            _local_frame(self.spark, rows, _frontier_schema())
        )
        self._frontier_count += len(rows)

    def _more(self) -> bool:
        """Whether another round runs: below max_rounds, not cancelled, and
        a frontier row or a push pending. Injection consumes pushes, so ANY
        remaining push keeps the loop alive (a mid-round push carries an
        already-passed round stamp yet is injected at the next boundary)."""
        return (self.round < self.spec.max_rounds and not self._cancelled
                and (self._frontier_count > 0 or bool(self.pushes)))

    def _start(self, resume: bool):
        if not (resume and self.ckpt and self.resume()):
            self._init_state()

    # ------------------------------------------------------------------
    def _materialize(self, df: DataFrame, table: str, rnd: int) -> DataFrame:
        """Write a round output and return the re-read (lineage-cut) frame."""
        if self.ckpt:
            return self.catalog.write(df, rnd, table)
        return df.localCheckpoint(eager=True)

    def _commit_round(self, rnd: int):
        if not self.ckpt:
            return
        manifest = dict(
            round=rnd,
            seq_offset=self.seq_offset,
            fetch_seq_offset=self.fetch_seq_offset,
            bloom_shards=self.bloom_shards,
            seen_rows=self.seen_rows,
            seen_bytes=self.seen_bytes,
            metrics=self.metrics[-1] if self.metrics else None,
            spec=self.spec.to_dict(),
        )
        self.catalog.commit(rnd, manifest)  # atomic visibility point

    def last_committed_round(self) -> int:
        """Highest round with a commit manifest, or -1."""
        return self.catalog.last_committed() if self.catalog else -1

    def resume(self) -> bool:
        """Restore state from the last committed round. True if resumed."""
        r = self.last_committed_round()
        if r < 0:
            return False
        manifest = self.catalog.manifest(r)
        # the filter shards are Bloom bitsets; a checkpoint holding another
        # filter's shards would read as empty bitsets, i.e. every seen URL
        # "provably unseen" and fetched again
        seen_filter = manifest.get("seen_filter", "bloom")
        if seen_filter != "bloom":
            raise ValueError(
                f"resume: round {r}'s _COMMIT.json names seen_filter="
                f"{seen_filter!r}; this engine reads only Bloom shards")
        self.frontier = self.catalog.read(r, "frontier_next")
        # seen-set = latest compaction (seen_full) + the deltas after it;
        # with no compaction yet, the base is the job's seen_init
        parts: List[DataFrame] = []
        compact_round = -1
        for i in range(r, -1, -1):
            if self.catalog.has_table(i, "seen_full") and self.catalog.is_committed(i):
                compact_round = i
                parts.append(self.catalog.read(i, "seen_full"))
                break
        if compact_round < 0:
            parts.append(self.catalog.read_aux("seen_init"))
        for i in range(compact_round + 1, r + 1):
            if self.catalog.has_table(i, "seen_delta"):
                parts.append(self.catalog.read(i, "seen_delta"))
        self._seen_parts = parts
        self.seen = self._union_balanced(parts)
        self.round = r + 1
        self.seq_offset = manifest["seq_offset"]
        self.fetch_seq_offset = manifest["fetch_seq_offset"]
        self.bloom_dir = (self.catalog.round_path(r, "bloom")
                          if self.catalog.has_table(r, "bloom") else None)
        # shard count is a property of the persisted state, not the caller
        self.bloom_shards = int(manifest.get("bloom_shards", self.bloom_shards))
        # P4 resume: replay the per-round budget draws for the committed
        # rounds so the sampler state matches the uninterrupted run
        self._sampler = DelaySampler.for_spec(self.spec)
        for _ in range(self.round):
            self.spec.realized_global_budget(self._sampler)
        # a manifest without the seen-set size leaves it unknown, and the
        # rounds take the Bloom-prefiltered join
        self.seen_rows = manifest.get("seen_rows")
        self.seen_bytes = manifest.get("seen_bytes")
        n_front = (manifest.get("metrics") or {}).get("frontier_next")
        self._frontier_count = (int(n_front) if n_front is not None
                                else self.frontier.count())
        # pushes for committed rounds were injected in the original run
        # (their frontier effects are in the checkpoint); only later-round
        # pushes remain injectable — without this, the <=-match in
        # _inject_pushes would re-inject them after resume
        with self._push_lock:
            self.pushes = [p for p in self.pushes
                           if int(p.get("round", 0)) > r]
        return True

    # ------------------------------------------------------------------
    def _run_actions(self, rnd: int, counters, actions: dict,
                     waiting: dict) -> dict:
        """Run a round's actions concurrently, each in its own thread under
        the job group ``r<rnd>:<name>``; return their results by name.

        ``counters()`` runs first; each of ``waiting`` gets its result.
        The pool holds every action, so the counters never queue behind
        one that waits for them. On the first failure the round's job
        groups are cancelled until every action has returned, and the
        failure is raised: no write is left running (or blocked on a
        job that will never finish) behind a failed round."""
        sc = self.spark.sparkContext
        groups = ["counters", *actions, *waiting]

        def in_group(name, fn, *args):
            sc.setJobGroup(f"r{rnd}:{name}", f"round {rnd} {name}")
            return fn(*args)

        def after_counters(name, fn):
            return in_group(name, fn, futures["counters"].result())

        pool = ThreadPoolExecutor(max_workers=len(groups))
        try:
            futures = {"counters": pool.submit(in_group, "counters", counters)}
            futures.update({n: pool.submit(in_group, n, fn)
                            for n, fn in actions.items()})
            futures.update({n: pool.submit(after_counters, n, fn)
                            for n, fn in waiting.items()})
            done, pending = wait(futures.values(), return_when=FIRST_EXCEPTION)
            failure = next((f.exception() for f in futures.values()
                            if f in done and f.exception() is not None), None)
            if failure is not None:
                while pending:
                    for name in groups:
                        sc.cancelJobGroup(f"r{rnd}:{name}")
                    _, pending = wait(pending, timeout=1.0)
                raise failure
            return {n: f.result() for n, f in futures.items()}
        finally:
            pool.shutdown(wait=True)

    def step(self) -> int:
        """Execute one frontier round (micro-batch). Returns the number of
        pending frontier rows at round start (0 ⇒ idle round)."""
        rnd = self.round
        self._inject_pushes(rnd)
        # realized global budget is drawn EVERY round (idle ones included)
        # so the sampler sequence replays identically on resume and stays
        # in lockstep with the reference simulator's per-round draws
        global_budget = self.spec.realized_global_budget(self._sampler)
        # frontier size is tracked exactly (previous round's output count
        # plus injected pushes) — no count() job at round start
        n_pending = self._frontier_count
        if n_pending == 0:
            # idle round: only future pushes remain (refsim does the same)
            self.metrics.append(dict(round=rnd, admitted=0, carried=0,
                                     fetched=0, deduped=0, url_blocked=0,
                                     robots_denied=0, errors=0))
            self.round += 1
            return 0
        res = run_round(
            self.spark, self.spec, rnd, self.frontier, self.seen,
            self.pages, self.robots_host,
            fetch_seq_offset=self.fetch_seq_offset,
            seq_offset=self.seq_offset,
            shuffle_partitions=self.nparts,
            bloom_dir=self.bloom_dir,
            bloom_shards=self.bloom_shards,
            global_budget=global_budget,
            n_pending=n_pending,
            host_budget_max=self._host_budget_max,
            seen_bytes=self.seen_bytes,
        )
        # ALL EIGHT round actions run CONCURRENTLY, each under the job
        # group r<round>:<output>: the counters collect, the six output
        # materializations and, with a checkpoint, the Bloom fold.
        # frontier_next, seen_delta and the fold wait for the counters row
        # alone; its exact counts size them: the fold picks the driver or
        # the applyInPandas path by n_new, seen_delta is written from one
        # task when n_new fits one Arrow batch, and frontier_next ranks its
        # n_enq new rows with that count as a proven row bound (one window
        # task, no range-sampling job, up to SMALL_RANK_ROWS). The other
        # writes start at once, so nothing serializes behind the collect
        # (VERDICT r02 #4). What they share is computed once; Spark's
        # cache-block locking makes the first job to reach a partition of
        # a persisted frame compute it and the rest wait and reuse it:
        # - per round (until res.release()): the robots-gated admissions
        #   (`allowed`, the robots UDF), the fetch join (`fetched`), the
        #   resolved links (extract + resolve UDFs), the filtered eligible
        #   links, the Bloom probe (above the hash-build bound), the new
        #   keys (`new_firsts`, which the fold also reads), the rank inputs;
        # - driver-local, so no job computes them: the robots dim (built
        #   once per engine) and the seed and push rows.
        # The rest is recomputed by each action that needs it: the
        # admission window under `carried` (frontier_next reads it from
        # the frontier, not from `allowed`), the broadcast of the robots
        # dim (from the driver), and the JVM-only joins and aggregates
        # above the shared frames. Atomic-commit safety is unchanged:
        # _COMMIT.json still lands only after every write and the fold
        # have returned, and a failing action fails the round.
        m = res.metrics
        bloom_next = self.catalog.round_path(rnd, "bloom") if self.ckpt else None

        def rank_frontier(cnt):
            n_front = n_pending - cnt["admitted"] + cnt["n_enq"]
            return self._materialize(res.frontier_next(cnt["n_enq"], n_front),
                                     "frontier_next", rnd)

        def fold(cnt):
            # fold this round's new keys into the Bloom shards; the new
            # shard directory becomes part of the round's atomic commit
            bloom.update_shards(
                res.seen_new.selectExpr("xxhash64(key) AS key_hash"),
                self.bloom_dir, bloom_next, n_shards=self.bloom_shards,
                n_keys=cnt["n_new"])

        def write(table):
            # the output's statement is analyzed here, in its own thread
            return self._materialize(getattr(res, table), table, rnd)

        # seen checkpoint is the DELTA only (this round's new keys):
        # per-round checkpoint IO is O(|new|), not O(|seen|). Only a
        # checkpoint keeps the per-shard metrics: in memory nothing reads them
        tables = ("shipped", "order", "outlinks") + (
            ("part_metrics",) if self.ckpt else ())
        actions = {t: partial(write, t) for t in tables}
        waiting = dict(
            frontier_next=rank_frontier,
            seen_delta=lambda cnt: self._materialize(
                res.seen_delta(cnt["n_new"]), "seen_delta", rnd),
        )
        if self.ckpt:
            waiting["bloom"] = fold
        try:
            done = self._run_actions(rnd, res.counters, actions, waiting)
        finally:
            res.release()
        cnt = done["counters"]
        if self.ckpt:
            self.bloom_dir = bloom_next
        shipped, order = done["shipped"], done["order"]
        outlinks, frontier_next = done["outlinks"], done["frontier_next"]
        seen_delta = done["seen_delta"]
        m["logged_out"] = cnt["n_logged_out"]
        if m["logged_out"] > 0:
            # the login-session guard tripped: the reference pushes
            # cancelChan (job.go:181) — cancel at the round boundary,
            # committed rounds stay visible (cancel() semantics)
            self._cancelled = True
        m["admitted"] = cnt["admitted"]
        m["url_blocked"] = cnt["n_url_blocked"]
        m["robots_denied"] = cnt["robots_denied"]
        m["fetched"] = cnt["fetched"]
        m["errors"] = cnt["errors"]
        n_new = cnt["n_new"]
        m["deduped"] = cnt["n_eligible"] - n_new
        if self.seen_bytes is not None:
            self.seen_rows += n_new
            self.seen_bytes += cnt["new_bytes"]
        self.fetch_seq_offset += m["fetched"]
        # the new entries (children + HEAD requeues) are ranked densely
        # from seq_offset on; carried rows keep their old (smaller) seqs
        self.seq_offset += cnt["n_enq"]
        # frontier_next size is derivable exactly — no count() job:
        # carried (= pending - admitted) plus the newly-enqueued rows
        m["carried"] = n_pending - m["admitted"]
        n_front = m["carried"] + cnt["n_enq"]
        m["frontier_next"] = n_front
        self.metrics.append(m)
        self._frontier_count = n_front
        # an in-memory frontier is a non-evictable localCheckpoint: release
        # the superseded one, or each round pins a copy for the session.
        # (Seen deltas stay pinned until the next compaction.)
        release(self.frontier)
        self.frontier = frontier_next
        self._seen_parts.append(seen_delta)
        self.seen = self._union_balanced(list(self._seen_parts))
        compacted_this_round = False
        if (rnd + 1) % self.seen_compact_every == 0:
            # compaction: one full rewrite every k rounds keeps the union
            # shallow and bounds read amplification — the Iceberg
            # snapshot-compaction rhythm. Written before _COMMIT.json so
            # it is covered by this round's atomic commit.
            compacted = self._materialize(
                self.seen.repartition(self.nparts, "key"), "seen_full", rnd)
            for d in self._seen_parts:
                release(d)
            self._seen_parts = [compacted]
            self.seen = compacted
            compacted_this_round = True
        self._shipped.append(shipped)
        self._order.append(order)
        self._outlinks.append(outlinks)
        self._commit_round(rnd)
        if self.ckpt and compacted_this_round and self.expire_on_compact:
            # AFTER the commit: a crash mid-expire leaves a fully
            # resumable checkpoint (expiry only deletes superseded state)
            self.catalog.expire(rnd)
        self.round += 1
        return n_pending

    def cancel(self):
        """Live cancel — the CancelJob analogue (worker.go:271-287,
        job.go:676-689): the reference closes cancelChan, every per-host
        worker breaks its loop and DRAINS its queue without processing
        (fetch.go:172-184, 368-372), so in-flight work is discarded.

        The engine's unit of in-flight work is one atomically-committed
        round, so cancellation takes effect at the next round boundary:
        committed rounds stay visible, the uncommitted round (if any) is
        discarded exactly like a crash, and ``resume()`` continues the
        job later. Cancel-at-round-k + resume therefore equals the
        uninterrupted run (test_cancel_resume_equivalence)."""
        self._cancelled = True

    def drain(self):
        """Run rounds until the frontier is empty (all-hosts-idle analogue,
        fetch.go:430-444), cancel() fires, or max_rounds hits."""
        while self._more():
            self.step()

    def subscribe(self, resume: bool = False):
        """The ``AddDomainAndListen`` / ``GetAnalyzedURLs`` analogue
        (worker.go:322-358, :289-320): the reference's flagship entry
        point streams each crawled page (and each page's analyzed-URL
        list) to the subscribed client as the crawl progresses, and the
        job STOPS when the listener goes away.

        Batch analogue: a generator yielding one dict per productive
        round — ``round``, ``shipped`` (that round's shipped-pages
        DataFrame), ``outlinks`` (that round's analyzed-URL sink) and
        ``metrics``. Abandoning the generator stops the crawl exactly
        like the reference's subscriber-disconnect (the next round never
        runs); committed rounds stay resumable."""
        self._start(resume)
        while self._more():
            n_before = len(self._shipped)
            self.step()
            if len(self._shipped) > n_before:
                yield dict(
                    round=self.round - 1,
                    shipped=self._shipped[-1],
                    outlinks=self._outlinks[-1],
                    metrics=self.metrics[-1],
                )

    def add_pushes(self, rows: List[dict]):
        """Streaming entry: enqueue client pushes (AddPages,
        worker.go:219-269). Safe to call from another thread while the
        crawl loop runs: a push arriving mid-round is injected at the
        next round boundary (injection matches round <= current and
        consumes the queue, so no stamp can be skipped)."""
        with self._push_lock:
            for p in rows:
                p = dict(p)
                p["round"] = self.round
                self.pushes.append(p)

    def run(self, resume: bool = False) -> dict:
        """Crawl to fixpoint. Returns dict of result DataFrames."""
        self._start(resume)
        self.drain()
        return self.results()

    @staticmethod
    def _union_balanced(parts: List[DataFrame]) -> Optional[DataFrame]:
        """Balanced unionByName fold: O(log n)-deep plan instead of the
        O(n)-deep left chain (analyzer cost grows with plan depth)."""
        while len(parts) > 1:
            parts = [
                parts[i].unionByName(parts[i + 1]) if i + 1 < len(parts)
                else parts[i]
                for i in range(0, len(parts), 2)
            ]
        return parts[0] if parts else None

    def results(self) -> dict:
        """Assemble the output tables from all committed rounds."""
        out = {}
        if self.ckpt:
            # read ALL committed rounds from disk (covers resumed runs too)
            for name in ("shipped", "order", "outlinks"):
                parts = [
                    self.catalog.read(r, name)
                    for r in range(self.round)
                    if self.catalog.is_committed(r) and self.catalog.has_table(r, name)
                ]
                out[name] = self._union_balanced(parts)
        else:
            dfs = dict(shipped=self._shipped, order=self._order, outlinks=self._outlinks)
            for name, parts in dfs.items():
                out[name] = self._union_balanced(list(parts))
        out["seen"] = self.seen
        out["metrics"] = self.metrics
        out["rounds"] = self.round
        return out
