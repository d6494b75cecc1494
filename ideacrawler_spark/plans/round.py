"""One frontier round — the declarative core of the engine.

Maps the reference's fetch→parse→enqueue→ship handler chain
(fetchHTTPGetHandler, job.go:111-300 + enqueueLinks, job.go:808-894) onto a
single DataFrame pipeline:

    frontier ⨝ robots → budget admit → robots gate → ⨝ pages ("fetch")
        → [HEAD requeue | error ship | ok]
    ok → follow gate → extract links (pandas UDF) → resolve+normalize
        (pandas UDF) → eligibility (rlike) → in-round first-occurrence
        (window on url_norm) → anti-join seen → cross-domain split
        → children; callback OR-chain → shipped

Every relational step is a built-in (whole-stage-codegen'd) operator;
Python appears only in Arrow-batched UDFs (extract, resolve, robots,
xpath). Filters are plain DataFrame predicates so Catalyst pushes them
into the parquet scans.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ideacrawler_spark.config import JobSpec
from ideacrawler_spark.functions.extract import extract_links_udf
from ideacrawler_spark.functions.robots import robots_allowed_udf
from ideacrawler_spark.functions.urlnorm import host_raw, resolve_canon_udf
from ideacrawler_spark.operators.admission import admit_budget
from ideacrawler_spark.operators.dedup import (
    anti_join_seen, first_occurrence, prefiltered_anti_join,
    seen_row_bytes_col)
from ideacrawler_spark.operators.rank import global_rank

# pandas UDFs are plan-level objects: constructing one costs py4j round
# trips, so build each once per (python-side) process and reuse across
# rounds — the crawl loop builds this plan every round
from functools import lru_cache


@lru_cache(maxsize=8)
def _udfs(unsafe: bool, feeds: bool = False):
    from ideacrawler_spark.functions.extract import extract_links_feeds_udf

    return dict(
        robots=robots_allowed_udf(),
        extract=extract_links_feeds_udf() if feeds else extract_links_udf(),
        resolve=resolve_canon_udf(unsafe=unsafe),
    )


@lru_cache(maxsize=8)
def _static_exprs(mimetype: str, child_method: str, shuffle_partitions: int):
    """Round-invariant Column expression trees, built ONCE per process.

    Profiled: run_round spent ~1.6 s/round blocked on py4j building the
    same unresolved expressions every round (each F.col/alias/when is a
    JVM round trip and every DataFrame op re-analyzes). Column objects
    are immutable unresolved trees, so they are safely reused across
    rounds and DataFrames — the same lifetime story as the cached UDFs
    above. Only the genuinely per-round pieces (F.lit(rnd), offsets) are
    still built inside run_round."""
    ship_base = [
        F.col("fetch_seq"), F.col("url"), F.col("depth"),
        F.col("anchor").alias("anchor_text"), F.col("meta"),
    ]
    return dict(
        path_col=F.coalesce(
            F.parse_url(F.col("url_norm"), F.lit("PATH")), F.lit("")),
        ctype_base=F.coalesce(
            F.trim(F.split(F.col("_ctype"), ";").getItem(0)),
            F.lit(mimetype),
        ),
        status_filled=F.coalesce(F.col("_status"), F.lit(404)),
        is_err=(F.col("_status") >= 400) & (F.col("_status") < 600),
        head_requeues=[
            F.lit(0).alias("depth"),
            F.col("depth").alias("parent_depth"),
            F.col("seq").alias("parent_seq"),
            F.lit(-1).alias("link_pos"),
            F.col("url"), F.col("url_norm"), F.col("host"),
            F.lit("").alias("anchor"), F.col("meta"),
            F.lit("GET").alias("method"),
            F.lit(False).alias("pushed"), F.lit(False).alias("no_callback"),
        ],
        children=[
            (F.col("parent_depth") + 1).alias("depth"),
            F.col("parent_depth"), F.col("parent_seq"), F.col("link_pos"),
            F.col("url_norm").alias("url"), F.col("url_norm"), F.col("host"),
            F.col("anchor"), F.col("meta"),
            F.lit(child_method).alias("method"),
            F.lit(False).alias("pushed"), F.lit(False).alias("no_callback"),
        ],
        shipped_err=ship_base + [
            F.col("_status").alias("status"), F.lit("").alias("text"),
            F.lit(False).alias("success"),
        ],
        shipped_ok=ship_base + [
            F.col("_status").alias("status"),
            F.coalesce(F.col("_text"), F.lit("")).alias("text"),
            F.lit(True).alias("success"),
        ],
        links_post=[
            F.col("parent_depth"), F.col("parent_seq"), F.col("parent_url"),
            F.col("meta"), F.col("link_pos"),
            F.col("_link.href").alias("href"),
            F.col("_link.anchor").alias("anchor"),
        ],
        resolved_post=[
            F.col("parent_depth"), F.col("parent_seq"), F.col("parent_url"),
            F.col("meta"), F.col("link_pos"), F.col("anchor"),
            F.col("_res.url_norm").alias("url_norm"),
            F.col("_res.host_raw").alias("host_raw"),
            F.col("_res.host").alias("host"),
        ],
        adm_counts=_counter_map(
            admitted=F.count("*"),
            robots_denied=F.sum(F.when(~F.col("_allowed"), 1).otherwise(0)),
        ),
        fetch_counts=_counter_map(
            fetched=F.count("*"),
            errors=F.sum(
                F.when(
                    (F.col("_ctype_base") == mimetype)
                    & (F.col("method") == "GET") & ~F.col("no_callback")
                    & (F.col("_status") >= 400) & (F.col("_status") < 600),
                    1,
                ).otherwise(0)
            ),
        ),
        elig_counts=_counter_map(n_eligible=F.count("*")),
        enq_counts=_counter_map(n_enq=F.count("*")),
        shard=F.pmod(F.xxhash64(F.col("host")),
                     F.lit(shuffle_partitions)).cast("int").alias("shard"),
        pm_aggs=[
            F.count("*").alias("admitted"),
            F.sum(F.when(~F.col("_allowed"), 1).otherwise(0))
            .alias("robots_denied"),
            F.sum(F.when(F.col("_allowed"), 1).otherwise(0)).alias("fetched"),
        ],
        outlink_aggs=[
            F.array_sort(F.collect_set("url_norm")).alias("outlinks"),
            F.first("parent_depth").alias("depth"),
        ],
        pg_cols=[
            F.col("url").alias("_page_url"),
            F.col("html").alias("_html"),
            F.col("text").alias("_text"),
            F.col("status").alias("_status"),
            F.col("content_type").alias("_ctype"),
        ],
        seen_key=F.col("url_norm").alias("key"),
        new_counts=_counter_map(
            n_new=F.count("*"),
            new_bytes=F.sum(seen_row_bytes_col(F.col("url_norm"))),
        ),
        logged_out_counts=_counter_map(n_logged_out=F.count("*")),
        block_counts=_counter_map(
            n_url_blocked=F.sum(F.when(F.col("_url_blocked"), 1).otherwise(0))),
    )


def _counter_map(**aggs):
    """Named single-row aggregates as ONE ``map<string, bigint>`` column.

    Counts and sums of ints are all bigint, so every counters frame of a
    round has the same schema and they union into one job, where a ``crossJoin`` chain of single-row frames
    plans one broadcast job per join. A map keeps every name, a null
    value included (a sum over zero rows)."""
    return F.create_map(*(
        x for name, agg in aggs.items() for x in (F.lit(name), agg))
    ).alias("counts")


FRONTIER_SCHEMA = (
    "depth int, seq long, url string, url_norm string, host string, "
    "anchor string, meta string, method string, pushed boolean, "
    "no_callback boolean"
)
FRONTIER_COLUMNS = [f.split()[0] for f in FRONTIER_SCHEMA.split(", ")]
SHIPPED_SCHEMA = (
    "fetch_seq long, url string, depth int, anchor_text string, meta string, "
    "status int, text string, success boolean, round int"
)
SEEN_SCHEMA = "key string"


class RoundResult:
    """One round's outputs, as lazy frames. The counters row sizes the
    round's tail: ``frontier_next`` and ``seen_delta`` are built from its
    exact counts, so the driver builds them after collecting it."""

    def __init__(self, spark, shipped, carried, enq, seq_offset,
                 shuffle_partitions, seen_new, outlinks, counters, metrics,
                 cached):
        self.shipped = shipped
        self.seen_new = seen_new            # NEW seen keys discovered this round
        self.outlinks = outlinks
        self.metrics = metrics              # dict of lineage counters
        self._spark = spark
        self._carried = carried             # frontier rows not admitted
        self._enq = enq                     # children + HEAD requeues, unranked
        self._seq_offset = seq_offset
        self._nparts = shuffle_partitions
        self._counters = counters
        # every persisted frame of the round, released by the driver once
        # the outputs are materialized (including those the tail persists)
        self._cached = cached

    def counters(self) -> dict:
        """Collect ALL round counters in one job, as name -> int.

        SQL sums over zero rows are null; they read as 0 here. The login
        and URL-gating counters exist only when their feature is on."""
        out = dict(n_logged_out=0, n_url_blocked=0)
        for row in self._counters.collect():
            out.update(row["counts"])
        return {k: int(v or 0) for k, v in out.items()}

    def frontier_next(self, n_enq: int, n_front: int) -> DataFrame:
        """carried + HEAD requeues + children (no pushes), in
        FRONTIER_SCHEMA's column order (the schema resume() reads with).

        The new rows get discovery sequence numbers from ``seq_offset``
        on, ordered exactly as the reference's enqueue counter would fire
        (parent fetch order, then link position; HEAD requeue at pos -1).
        ``n_enq``, the counters row's exact count of them, is the rank's
        row bound; ``n_front`` = carried + ``n_enq`` is the output's."""
        enq = global_rank(
            self._enq, ["parent_depth", "parent_seq", "link_pos"],
            out_col="seq", offset=self._seq_offset,
            num_partitions=self._nparts, track=self._cached,
            small_hint=n_enq,
        ).drop("parent_depth", "parent_seq", "link_pos")
        out = self._carried.unionByName(enq).select(*FRONTIER_COLUMNS)
        return _one_task_if_one_batch(self._spark, out, n_front)

    def seen_delta(self, n_new: int) -> DataFrame:
        """The new seen keys, bounded by the counters row's ``n_new``."""
        return _one_task_if_one_batch(self._spark, self.seen_new, n_new)


def _host_budget_col(spec: JobSpec):
    """JobSpec.host_budget as a Column over the joined crawl_delay."""
    return _host_budget_col_cached(
        bool(spec.impolite), float(spec.effective_delay_s),
        float(spec.round_seconds), max(1, spec.threads_per_site))


@lru_cache(maxsize=8)
def _host_budget_col_cached(impolite: bool, eff: float,
                            round_seconds: float, threads: int):
    if impolite:
        delay = F.lit(eff)
    else:
        delay = F.when(
            F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0),
            F.col("crawl_delay"),
        ).otherwise(F.lit(eff))
    per_thread = F.greatest(F.lit(1), F.floor(F.lit(round_seconds) / delay))
    return per_thread * F.lit(threads)


def _one_task_if_one_batch(spark: SparkSession, df: DataFrame,
                           row_bound: Optional[int]) -> DataFrame:
    """Coalesce ``df`` to ONE task when at most ``row_bound`` rows, which
    fit in one Arrow batch, reach it: ahead of a pandas UDF, and for a
    small output written as one file.

    Every Python task pays a fixed worker set-up cost whatever its row
    count. With PySpark 4.1 on Python 3.11, about 100-130 ms of each
    Python evaluation goes to the per-task ``importlib.invalidate_caches()``:
    the worker's ``sys.path`` holds ``pyspark.zip``, the py4j zip and the
    spark-core jar, and every zipimporter re-reads its archive directory
    on each call. So a handful of rows spread over the shuffle partitions
    pays it that many times; a write pays a task and a file per
    partition. Coalescing is narrow (no shuffle). A larger input, or a
    batch size of zero or less (no limit), keeps its partitioning."""
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    if row_bound is not None and 0 < batch and row_bound <= batch:
        return df.coalesce(1)
    return df


def _hash_build_fits(spark: SparkSession, build_bytes: int) -> bool:
    """Spark's own ``canBuildLocalHashMapBySize`` rule: a build side of
    ``build_bytes`` may be hashed per partition when it is smaller than
    ``autoBroadcastJoinThreshold`` times the shuffle partitions. A
    threshold of -1 (joins by size disabled) never passes."""
    conf = spark._jsparkSession.sessionState().conf()
    return build_bytes < conf.autoBroadcastJoinThreshold() \
        * conf.numShufflePartitions()


def run_round(
    spark: SparkSession,
    spec: JobSpec,
    rnd: int,
    frontier: DataFrame,
    seen: DataFrame,
    pages: DataFrame,
    robots_host: Optional[DataFrame],
    fetch_seq_offset: int,
    seq_offset: int,
    shuffle_partitions: int = 32,
    bloom_dir: Optional[str] = None,
    bloom_shards: int = 64,
    global_budget: Optional[int] = None,
    n_pending: Optional[int] = None,
    host_budget_max: Optional[int] = None,
    seen_bytes: Optional[int] = None,
) -> RoundResult:
    metrics = dict(round=rnd)
    if global_budget is None:
        global_budget = spec.global_budget()
    # the global cap cannot bind when the whole frontier fits under it —
    # skip the top-k histogram job entirely (driver-latency saver; at
    # 10^10-frontier scale the cap binds and the histogram path runs)
    effective_gb = global_budget
    if n_pending is not None and n_pending <= global_budget:
        effective_gb = None

    # ---- politeness: join per-host robots dim, compute budgets, admit ----
    if robots_host is not None:
        fr = frontier.join(F.broadcast(robots_host), on="host", how="left")
    else:
        fr = frontier.withColumn("crawl_delay", F.lit(None).cast("double")) \
                     .withColumn("rules", F.lit(None).cast(
                         "array<struct<rule_seq:int,rule_path:string,"
                         "allow:boolean,fetch_status:int>>"))
    admitted, carried = admit_budget(
        fr, _host_budget_col(spec), effective_gb,
        host_budget_max=host_budget_max,
    )
    carried = carried.drop("crawl_delay", "rules")
    metrics["carried"] = None  # filled by driver (avoids an extra action)

    child_method = "HEAD" if spec.check_content else "GET"
    X = _static_exprs(spec.mimetype, child_method, shuffle_partitions)

    # ---- robots allow/deny gate (pandas UDF over the joined rule array) --
    # Go tests agent.Test(v.URL().Path) — the raw (possibly EMPTY) path;
    # %-decoding happens inside the UDF (u.Path is the decoded form).
    # A round coalesces by its PENDING count, not the admitted one:
    # coalescing is narrow, so the same task also runs the admission
    # window over every pending row.
    if spec.impolite:
        allowed = admitted.withColumn("_allowed", F.lit(True))
    else:
        allowed = _one_task_if_one_batch(spark, admitted, n_pending).withColumn(
            "_allowed",
            _udfs(spec.unsafe_normalize)["robots"](X["path_col"],
                                                   F.col("rules")),
        )
    allowed = allowed.persist()
    # admission counters fold into the single end-of-round counters job
    adm_counts = allowed.agg(X["adm_counts"])
    fetchable = allowed.filter(F.col("_allowed")).drop(
        "_allowed", "crawl_delay", "rules")

    # ---- deterministic fetch order (the crawl-order golden) --------------
    # proven row bound: admitted ≤ min(pending, global budget) — lets
    # global_rank skip the range-sampling job + shuffle on small rounds
    admit_bound = None
    if n_pending is not None:
        admit_bound = n_pending if global_budget is None \
            else min(n_pending, global_budget)
    _rank_caches: list = []
    fetchable = global_rank(
        fetchable, ["depth", "seq"], out_col="fetch_seq",
        offset=fetch_seq_offset,
        num_partitions=shuffle_partitions,
        track=_rank_caches,
        small_hint=admit_bound,
    )

    # ---- "fetch" = equi-join against the simulated web -------------------
    pg = pages.select(*X["pg_cols"])
    fetched = fetchable.join(pg, on=fetchable.url_norm == pg._page_url, how="left")
    fetched = (
        fetched.withColumn("_status", X["status_filled"])
        # misses behave like text/html 404s (ctype coalesced to mimetype)
        .withColumn("_ctype_base", X["ctype_base"])
        .drop("_page_url", "_ctype")
        .persist()
    )
    fetch_counts = fetched.agg(X["fetch_counts"])

    # mimetype mux (job.go:620-623): non-matching pages are not handled at
    # all — except, with follow_feeds, feed-typed pages, which are handled
    # for LINK FOLLOWING only (config.py knob doc): no ship, no callback,
    # no error count, no login guard.
    if spec.follow_feeds:
        from ideacrawler_spark.sources.feeds import FEED_MIMETYPES

        _feed_ct = F.col("_ctype_base").isin(list(FEED_MIMETYPES))
        handled = fetched.filter(
            (F.col("_ctype_base") == spec.mimetype) | _feed_ct
        ).withColumn(
            "_is_feed", _feed_ct & (F.col("_ctype_base") != spec.mimetype)
        )
    else:
        handled = fetched.filter(
            F.col("_ctype_base") == spec.mimetype
        ).withColumn("_is_feed", F.lit(False))

    # ---- HEAD requeue quirk (job.go:302-315): GET, depth reset, anchor lost
    head_requeues = (
        handled.filter(F.col("method") == "HEAD")
        .select(*X["head_requeues"])
    )

    gets = handled.filter((F.col("method") == "GET") & ~F.col("no_callback"))
    is_err = X["is_err"]

    # ---- error gate (job.go:121-137): ship error only at depth 0 ---------
    rnd_col = F.lit(rnd).alias("round")
    err_rows = gets.filter(is_err & ~F.col("_is_feed"))
    shipped_err = err_rows.filter(F.col("depth") == 0).select(
        *X["shipped_err"], rnd_col)

    ok = gets.filter(~is_err)

    # ---- login-session guard (F11 HTTP half, job.go:157-185) -------------
    # After each OK page: first-node value of the check xpath must equal
    # the expected value CASE-INSENSITIVELY, else the page ships as an
    # error with an EMPTY url and status 1502 (NolongerLoggedIn,
    # statuscodes.go:8) and contributes no links/callback; the driver
    # cancels the job at the round boundary (the cancelChan analogue).
    login_guard = bool(spec.login and spec.check_login_after_each_page
                       and spec.login_success_check)
    _login_caches = []
    if login_guard:
        from ideacrawler_spark.functions.extract import xpath_value_udf

        lkey, lval = spec.login_success_check
        ok = ok.withColumn(
            "_logged_in",
            F.col("_is_feed")  # feed pages skip the xpath session check
            | (F.lower(xpath_value_udf(lkey)(F.col("_html")))
               == F.lit(str(lval).lower())),
        ).persist()
        _login_caches.append(ok)
        logged_out = ok.filter(~F.col("_logged_in"))
        shipped_err = shipped_err.unionByName(
            logged_out.select(
                F.col("fetch_seq"), F.lit("").alias("url"), F.col("depth"),
                F.lit("").alias("anchor_text"), F.lit("").alias("meta"),
                F.lit(1502).alias("status"), F.lit("").alias("text"),
                F.lit(False).alias("success"), F.lit(rnd).alias("round"),
            )
        )
        ok = ok.filter(F.col("_logged_in"))

    # ---- follow gate on the CURRENT page URL (job.go:188) ----------------
    follow = ok.filter(F.lit(not spec.no_follow))
    if spec.follow_url_regexp:
        follow = follow.filter(F.col("url").rlike(spec.follow_url_regexp))
    if spec.depth >= 0:
        follow = follow.filter(F.col("depth") < spec.depth)

    # ---- link extraction + resolution (the two Arrow UDFs) ---------------
    if spec.follow_feeds:
        _extract_col = _udfs(spec.unsafe_normalize, True)["extract"](
            F.col("_html"), F.col("_is_feed"))
    else:
        _extract_col = _udfs(spec.unsafe_normalize)["extract"](
            F.col("_html"))
    links = follow.select(
        F.col("depth").alias("parent_depth"),
        F.col("seq").alias("parent_seq"),
        F.col("url").alias("parent_url"),
        F.col("meta"),
        F.posexplode(_extract_col).alias("link_pos", "_link"),
    ).select(*X["links_post"])
    resolved = links.withColumn(
        "_res",
        _udfs(spec.unsafe_normalize)["resolve"](
            F.col("parent_url"), F.col("href")
        ),
    ).select(*X["resolved_post"]) \
        .filter(F.col("url_norm").isNotNull()).persist()

    # ---- analyzed-URLs sink (job.go:815,874-893): per-page outlink set;
    #      one row per fetched page, so at most admit_bound rows
    outlinks = _one_task_if_one_batch(
        spark, resolved.groupBy("parent_url").agg(*X["outlink_aggs"]),
        admit_bound)

    # ---- eligibility (job.go:792-806) ------------------------------------
    req_match = F.lit(True)
    if spec.callback_url_regexp:
        req_match = req_match & F.col("url_norm").rlike(spec.callback_url_regexp)
    if spec.callback_anchor_regexp:
        req_match = req_match & F.col("anchor").rlike(spec.callback_anchor_regexp)
    follow_match = (
        F.col("url_norm").rlike(spec.follow_url_regexp)
        if spec.follow_url_regexp else F.lit(True)
    )
    eligible_all = resolved.filter(req_match | follow_match)

    # ---- frontier URL gating (engine extension, not in the reference):
    #      suffix-blocklisted hosts and spam-signal URLs are dropped HERE,
    #      after eligibility but before the seen-set — they never consume
    #      seen-set space, checkpoint IO, or politeness budget, and the
    #      drop count rides the round's single counters action.
    _gate_caches: list = []
    if spec.url_gating:
        from ideacrawler_spark.operators.urlfilter import (
            apply_url_gating, drop_gating_cols,
        )

        gated = apply_url_gating(
            eligible_all, spec, url_col="url_norm", host_col="host",
        ).persist()
        _gate_caches.append(gated)
        block_counts = gated.agg(X["block_counts"])
        eligible = drop_gating_cols(
            gated.filter(~F.col("_url_blocked"))).persist()
    else:
        block_counts = None
        eligible = eligible_all.persist()
    elig_counts = eligible.agg(X["elig_counts"])

    # ---- dedup: in-round first occurrence, then anti-join the seen table.
    #      ``seen_bytes`` (the seen-set's hash-build size, None if unknown)
    #      picks the join. Below Spark's hash-build bound the exact hash
    #      anti-join reuses firsts' exchange and costs less than any probe.
    #      Above it, or unknown, a Bloom checkpoint lets provably-new rows
    #      skip the join (D1); without one, a known-large seen-set takes
    #      the sort-merge join, which spills.
    firsts = first_occurrence(eligible)
    fits = seen_bytes is not None and _hash_build_fits(spark, seen_bytes)
    _probe_caches: list = []
    if bloom_dir is not None and not fits:
        from ideacrawler_spark.operators import bloom

        # persisted: both branches of the prefiltered anti-join read ONE
        # evaluation of the Python probe
        flagged = bloom.maybe_seen(
            firsts.withColumn("url_hash", F.xxhash64("url_norm")), bloom_dir,
            n_shards=bloom_shards).persist()
        _probe_caches.append(flagged)
        new_firsts = prefiltered_anti_join(flagged, seen).persist()
    else:
        # firsts comes straight out of the groupBy(url_norm): the
        # partitioned anti-join reuses that exchange and hash-probes the
        # seen side unsorted
        new_firsts = anti_join_seen(
            firsts, seen, partitioned=fits or seen_bytes is None).persist()
    new_counts = new_firsts.agg(X["new_counts"])

    # ---- cross-domain quirk (job.go:842-845): mark seen, don't enqueue.
    #      The CHILD host is lowercase (purell mutated u.Host before
    #      u.Hostname() is read at job.go:842); the SEED side keeps the
    #      seed URL's raw case (j.domainname, worker.go:100-112) — so a
    #      mixed-case seed URL matches nothing and the job enqueues no
    #      children, exactly like the reference.
    if spec.seed_url and not spec.follow_other_domains:
        # cross-domain rows are NOT enqueued but DO enter the seen-set:
        # seen_new below is ALL of new_firsts, children only the same-host
        seed_raw = host_raw(spec.seed_url)
        children_src = new_firsts.filter(F.col("host") == F.lit(seed_raw))
    else:
        children_src = new_firsts

    children = children_src.select(*X["children"])

    # ---- the rows this round enqueues: children + HEAD requeues. They
    #      are counted here and ranked into frontier_next by the driver
    #      once their exact count is known (RoundResult.frontier_next).
    enq = children.unionByName(head_requeues)

    seen_new = new_firsts.select(X["seen_key"])

    # ---- callback OR-chain (job.go:210-273) -------------------------------
    cb = F.lit(False)
    if spec.callback_seed_url:
        cb = cb | (F.col("depth") == 0)
    if not spec.callback_url_regexp and not spec.callback_xpath_match \
            and not spec.callback_xpath_regexp:
        cb = F.lit(True)  # no callback specs at all ⇒ ship everything
    if spec.callback_url_regexp:
        cb = cb | F.col("url").rlike(spec.callback_url_regexp)
    if spec.callback_anchor_regexp:
        cb = cb | F.col("anchor").rlike(spec.callback_anchor_regexp)
    if spec.callback_xpath_match or spec.callback_xpath_regexp:
        from ideacrawler_spark.functions.extract import xpath_match_udf
        # equality for BOTH variants (job.go:233-269 quirk)
        for pairs in (spec.callback_xpath_match, spec.callback_xpath_regexp):
            if pairs:
                cb = cb | xpath_match_udf(pairs)(F.col("_html"))
    shipped_ok = ok.filter(cb & ~F.col("_is_feed")).select(
        *X["shipped_ok"], rnd_col)
    shipped = shipped_err.unionByName(shipped_ok)

    order_cols = fetched.select(
        "fetch_seq", "url", "host", "depth").withColumn("round", F.lit(rnd))

    # ---- per-partition lineage metrics (D3): one row per host-hash shard.
    #      The reference only logs ad hoc (job.go:207,865); the engine keeps
    #      auditable counts per shard per round.
    #      At most shuffle_partitions rows, one per shard.
    part_metrics = _one_task_if_one_batch(spark, (
        allowed.groupBy(X["shard"])
        .agg(*X["pm_aggs"])
        .withColumn("round", F.lit(rnd))
        .withColumn("retried", F.lit(0))  # reference never retries
        # (fetch.go:415-425: errors and robots-denials drop, no requeue)
    ), shuffle_partitions)
    metrics["retried"] = 0
    metrics["part_metrics"] = part_metrics  # DataFrame; driver materializes

    metrics["order"] = order_cols  # DataFrame; driver materializes
    # ---- ALL round counters in ONE job: the single-row aggregates union
    #      into one frame, collected once (VERDICT r01: four separate
    #      collects were the round-latency floor)
    counters = [adm_counts, fetch_counts, elig_counts, new_counts,
                enq.agg(X["enq_counts"])]
    if login_guard:
        counters.append(logged_out.agg(X["logged_out_counts"]))
    if block_counts is not None:
        counters.append(block_counts)
    return RoundResult(
        spark, shipped=shipped, carried=carried, enq=enq,
        seq_offset=seq_offset, shuffle_partitions=shuffle_partitions,
        seen_new=seen_new, outlinks=outlinks,
        counters=reduce(DataFrame.union, counters).coalesce(1),
        metrics=metrics,
        # every persisted frame of the round gets unpersisted by the driver
        # once the outputs are materialized — nothing may pin session
        # memory across rounds (the seen-set grows; pinned copies starved
        # execution memory in long pytest sessions)
        cached=[allowed, fetched, resolved, eligible, new_firsts]
        + _probe_caches + _rank_caches + _login_caches + _gate_caches,
    )
