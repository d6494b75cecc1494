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
xpath). The relational steps are SQL text over temp views of the round's
inputs and persisted frames (operators/sqltext.py): a statement is one
py4j call and one analysis, where the same steps as DataFrame and Column
calls cost hundreds of calls. DataFrame calls remain where the round
persists a frame or applies a pandas UDF. Catalyst plans both forms
alike, and still pushes the filters into the parquet scans.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ideacrawler_spark.config import JobSpec
from ideacrawler_spark.functions.extract import extract_links_udf
from ideacrawler_spark.functions.robots import robots_allowed_udf
from ideacrawler_spark.functions.urlnorm import host_raw, resolve_canon_udf
from ideacrawler_spark.operators.admission import (
    admit_topk, budget_sql, salted_sql)
from ideacrawler_spark.operators.dedup import (
    anti_join_seen, first_occurrence_sql, prefiltered_anti_join,
    seen_row_bytes_sql)
from ideacrawler_spark.operators.rank import (
    global_rank, one_task_rank, window_rank_sql)
from ideacrawler_spark.operators.sqltext import Views, double, quote


@lru_cache(maxsize=8)
def _udf_cols(unsafe: bool, feeds: bool):
    """The round's pandas-UDF applications as Column trees, built once per
    (python-side) process: constructing a UDF and its Columns costs py4j
    round trips, and the trees are immutable, so every round reuses them."""
    from ideacrawler_spark.functions.extract import extract_links_feeds_udf

    if feeds:
        links = extract_links_feeds_udf()(F.col("_html"), F.col("_is_feed"))
    else:
        links = extract_links_udf()(F.col("_html"))
    return dict(
        # Go tests agent.Test(v.URL().Path) — the raw (possibly EMPTY) path;
        # %-decoding happens inside the UDF (u.Path is the decoded form)
        robots=robots_allowed_udf()(
            F.expr("coalesce(parse_url(url_norm, 'PATH'), '')"),
            F.col("rules")),
        links=[F.col("parent_depth"), F.col("parent_seq"),
               F.col("parent_url"), F.col("meta"),
               F.posexplode(links).alias("link_pos", "_link")],
        resolve=resolve_canon_udf(unsafe=unsafe)(
            F.col("parent_url"), F.col("_link.href")),
    )


def _counts(src: str, **aggs: str) -> str:
    """Named single-row aggregates of ``src`` as ONE ``map<string, bigint>``
    column ``counts``.

    Counts and sums of ints are all bigint, so every counters row of a
    round has the same schema and they union into one job, where a
    ``crossJoin`` chain of single-row frames plans one broadcast job per
    join. A map keeps every name, a null value included (a sum over zero
    rows)."""
    pairs = ", ".join(f"{quote(k)}, {agg}" for k, agg in aggs.items())
    return f"SELECT map({pairs}) AS counts FROM {src}"


def _n_true(cond: str) -> str:
    return f"sum(CASE WHEN {cond} THEN 1 ELSE 0 END)"


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
    """One round's outputs. ``run_round`` builds and persists the frames
    the outputs share; each output's statement is analyzed when it is
    first read, in the thread of the action that reads it, so the
    driver's serial plan build holds only the shared frames. The counters
    row sizes the round's tail: ``frontier_next`` and ``seen_delta`` are
    built from its exact counts, after it is collected. ``release()``
    frees the round's persisted frames (the tail's too) and temp views
    once its outputs are materialized."""

    def __init__(self, views, sql, seq_offset, shuffle_partitions, metrics):
        self.metrics = metrics              # dict of lineage counters
        self._views = views                 # owns the round's persists
        self._sql = sql                     # output name -> statement
        self._frames = {}
        self._seq_offset = seq_offset
        self._nparts = shuffle_partitions

    def _frame(self, name: str) -> DataFrame:
        if name not in self._frames:
            self._frames[name] = self._views.sql(self._sql[name])
        return self._frames[name]

    shipped = property(lambda self: self._frame("shipped"))
    order = property(lambda self: self._frame("order"))
    part_metrics = property(lambda self: self._frame("part_metrics"))
    outlinks = property(lambda self: self._frame("outlinks"))
    # the NEW seen keys discovered this round
    seen_new = property(lambda self: self._frame("seen_new"))

    def counters(self) -> dict:
        """Collect ALL round counters in one job, as name -> int.

        SQL sums over zero rows are null; they read as 0 here. The login
        and URL-gating counters exist only when their feature is on."""
        out = dict(n_logged_out=0, n_url_blocked=0)
        for row in self._frame("counters").collect():
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
            self._frame("enq"), ["parent_depth", "parent_seq", "link_pos"],
            out_col="seq", offset=self._seq_offset,
            num_partitions=self._nparts, track=self._views.persisted,
            small_hint=n_enq,
        )
        # each branch selects the columns by name: carried and the ranked
        # rows hold them in different orders
        cols = ", ".join(FRONTIER_COLUMNS)
        return self._views.sql(
            f"SELECT {_one_task_hint(self._views.spark, n_front)}* FROM "
            f"(SELECT {cols} FROM ({self._sql['carried']}) "
            f"UNION ALL SELECT {cols} FROM {self._views.add(enq, 'enq')})")

    def seen_delta(self, n_new: int) -> DataFrame:
        """The new seen keys, bounded by the counters row's ``n_new``."""
        if _one_task_hint(self._views.spark, n_new):
            return self.seen_new.coalesce(1)
        return self.seen_new

    def release(self):
        self._views.drop()


def _host_budget_sql(spec: JobSpec) -> str:
    """JobSpec.host_budget as SQL text over the joined crawl_delay."""
    eff = double(spec.effective_delay_s)
    if spec.impolite:
        delay = eff
    else:
        delay = (f"CASE WHEN crawl_delay IS NOT NULL AND crawl_delay > 0 "
                 f"THEN crawl_delay ELSE {eff} END")
    return (f"greatest(1, floor({double(spec.round_seconds)} / {delay})) "
            f"* {max(1, spec.threads_per_site)}")


def _one_task_hint(spark: SparkSession, row_bound: Optional[int]) -> str:
    """A hint coalescing a statement's output to ONE task when at most
    ``row_bound`` rows, which fit in one Arrow batch, reach it: ahead of a
    pandas UDF, and for a small output written as one file; else ``""``.

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
        return "/*+ COALESCE(1) */ "
    return ""


def _hash_build_fits(spark: SparkSession, build_bytes: int) -> bool:
    """Spark's own ``canBuildLocalHashMapBySize`` rule: a build side of
    ``build_bytes`` may be hashed per partition when it is smaller than
    ``autoBroadcastJoinThreshold`` times the shuffle partitions. A
    threshold of -1 (joins by size disabled) never passes."""
    conf = spark._jsparkSession.sessionState().conf()
    return build_bytes < conf.autoBroadcastJoinThreshold() \
        * conf.numShufflePartitions()


# the resolved links' columns, the eligible links' too
RESOLVED_COLUMNS = (
    "parent_depth", "parent_seq", "parent_url", "meta", "link_pos",
    "_link.anchor AS anchor", "_res.url_norm AS url_norm",
    "_res.host_raw AS host_raw", "_res.host AS host")
RULES_TYPE = ("array<struct<rule_seq:int,rule_path:string,allow:boolean,"
              "fetch_status:int>>")


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
    v = Views(spark)  # dropped by RoundResult.release()
    metrics = dict(round=rnd)
    if global_budget is None:
        global_budget = spec.global_budget()
    # the global cap cannot bind when the whole frontier fits under it —
    # skip the top-k histogram job entirely (driver-latency saver; at
    # 10^10-frontier scale the cap binds and the histogram path runs)
    effective_gb = global_budget
    if n_pending is not None and n_pending <= global_budget:
        effective_gb = None
    X = _udf_cols(spec.unsafe_normalize, spec.follow_feeds)

    # ---- politeness: join per-host robots dim, compute budgets, admit ----
    fr = v.add(frontier, "frontier")
    if robots_host is not None:
        fr = (f"(SELECT /*+ BROADCAST(r) */ * FROM {fr} "
              f"LEFT JOIN {v.add(robots_host, 'robots')} r USING (host))")
    else:
        fr = (f"(SELECT *, CAST(NULL AS DOUBLE) AS crawl_delay, "
              f"CAST(NULL AS {RULES_TYPE}) AS rules FROM {fr})")
    admitted, carried = budget_sql(salted_sql(fr, _host_budget_sql(spec)),
                                   host_budget_max)
    admitted = v.sql(admitted)
    if effective_gb is not None:
        admitted, overflow = admit_topk(admitted, effective_gb)
        # the same columns in the same order: a union by name
        carried += f" UNION ALL SELECT * FROM {v.add(overflow, 'overflow')}"
    sql = dict(carried=f"SELECT * EXCEPT (crawl_delay, rules) FROM ({carried})")
    metrics["carried"] = None  # filled by driver (avoids an extra action)

    # ---- robots allow/deny gate (pandas UDF over the joined rule array) --
    # A round coalesces by its PENDING count, not the admitted one:
    # coalescing is narrow, so the same task also runs the admission
    # window over every pending row.
    if spec.impolite:
        allowed = admitted.withColumn("_allowed", F.lit(True))
    else:
        if _one_task_hint(spark, n_pending):
            admitted = admitted.coalesce(1)
        allowed = admitted.withColumn("_allowed", X["robots"])
    al = v.persist(allowed, "allowed")

    # ---- deterministic fetch order (the crawl-order golden) --------------
    # proven row bound: admitted ≤ min(pending, global budget) — lets
    # global_rank skip the range-sampling job + shuffle on small rounds
    admit_bound = None
    if n_pending is not None:
        admit_bound = n_pending if global_budget is None \
            else min(n_pending, global_budget)
    fetchable = (f"SELECT * EXCEPT (_allowed, crawl_delay, rules) FROM {al} "
                 f"WHERE _allowed")
    if one_task_rank(admit_bound):
        ranked = "(" + window_rank_sql(f"({fetchable})", ["depth", "seq"],
                                       "fetch_seq", fetch_seq_offset) + ")"
    else:
        ranked = v.add(global_rank(
            v.sql(fetchable), ["depth", "seq"], out_col="fetch_seq",
            offset=fetch_seq_offset, num_partitions=shuffle_partitions,
            track=v.persisted, small_hint=admit_bound), "ranked")

    # ---- "fetch" = equi-join against the simulated web -------------------
    # misses behave like text/html 404s (ctype coalesced to mimetype)
    mt = quote(spec.mimetype)
    fe = v.persist(v.sql(
        f"SELECT r.*, p.html AS _html, p.text AS _text, "
        f"coalesce(p.status, 404) AS _status, "
        f"coalesce(trim(split(p.content_type, ';')[0]), {mt}) AS _ctype_base "
        f"FROM {ranked} r LEFT JOIN {v.add(pages, 'pages')} p "
        f"ON r.url_norm = p.url"), "fetched")

    # mimetype mux (job.go:620-623): non-matching pages are not handled at
    # all — except, with follow_feeds, feed-typed pages, which are handled
    # for LINK FOLLOWING only (config.py knob doc): no ship, no callback,
    # no error count, no login guard.
    if spec.follow_feeds:
        from ideacrawler_spark.sources.feeds import FEED_MIMETYPES

        feed = f"_ctype_base IN ({', '.join(map(quote, FEED_MIMETYPES))})"
        handled = (f"(SELECT *, {feed} AND _ctype_base != {mt} AS _is_feed "
                   f"FROM {fe} WHERE _ctype_base = {mt} OR {feed})")
    else:
        handled = (f"(SELECT *, false AS _is_feed FROM {fe} "
                   f"WHERE _ctype_base = {mt})")

    # ---- HEAD requeue quirk (job.go:302-315): GET, depth reset, anchor lost
    head_requeues = (
        "SELECT 0 AS depth, depth AS parent_depth, seq AS parent_seq, "
        "-1 AS link_pos, url, url_norm, host, '' AS anchor, meta, "
        "'GET' AS method, false AS pushed, false AS no_callback "
        f"FROM {handled} WHERE method = 'HEAD'")

    gets = f"(SELECT * FROM {handled} WHERE method = 'GET' AND NOT no_callback)"
    is_err = "_status >= 400 AND _status < 600"

    # ---- error gate (job.go:121-137): ship error only at depth 0 ---------
    shipped_err = (
        "SELECT fetch_seq, url, depth, anchor AS anchor_text, meta, "
        f"_status AS status, '' AS text, false AS success, {rnd} AS round "
        f"FROM {gets} WHERE {is_err} AND NOT _is_feed AND depth = 0")

    ok = f"(SELECT * FROM {gets} WHERE NOT ({is_err}))"

    # ---- login-session guard (F11 HTTP half, job.go:157-185) -------------
    # After each OK page: first-node value of the check xpath must equal
    # the expected value CASE-INSENSITIVELY, else the page ships as an
    # error with an EMPTY url and status 1502 (NolongerLoggedIn,
    # statuscodes.go:8) and contributes no links/callback; the driver
    # cancels the job at the round boundary (the cancelChan analogue).
    login_guard = bool(spec.login and spec.check_login_after_each_page
                       and spec.login_success_check)
    if login_guard:
        from ideacrawler_spark.functions.extract import xpath_value_udf

        lkey, lval = spec.login_success_check
        ck = v.persist(v.sql(f"SELECT * FROM {ok}").withColumn(
            "_logged_in",
            F.col("_is_feed")  # feed pages skip the xpath session check
            | (F.lower(xpath_value_udf(lkey)(F.col("_html")))
               == F.lit(str(lval).lower())),
        ), "checked")
        logged_out = f"(SELECT * FROM {ck} WHERE NOT _logged_in)"
        shipped_err += (
            " UNION ALL SELECT fetch_seq, '' AS url, depth, '' AS anchor_text,"
            " '' AS meta, 1502 AS status, '' AS text, false AS success, "
            f"{rnd} AS round FROM {logged_out}")
        ok = f"(SELECT * FROM {ck} WHERE _logged_in)"

    # ---- follow gate on the CURRENT page URL (job.go:188) ----------------
    gate = ["false" if spec.no_follow else "true"]
    if spec.follow_url_regexp:
        gate.append(f"url RLIKE {quote(spec.follow_url_regexp)}")
    if spec.depth >= 0:
        gate.append(f"depth < {int(spec.depth)}")
    follow = v.sql(
        "SELECT depth AS parent_depth, seq AS parent_seq, url AS parent_url, "
        f"meta, _html, _is_feed FROM {ok} WHERE {' AND '.join(gate)}")

    # ---- link extraction + resolution (the two Arrow UDFs) ---------------
    rs = v.persist(
        follow.select(*X["links"]).withColumn("_res", X["resolve"])
        .selectExpr(*RESOLVED_COLUMNS)
        .filter("url_norm IS NOT NULL"), "resolved")

    # ---- analyzed-URLs sink (job.go:815,874-893): per-page outlink set;
    #      one row per fetched page, so at most admit_bound rows
    sql["outlinks"] = (
        f"SELECT {_one_task_hint(spark, admit_bound)}parent_url, "
        "array_sort(collect_set(url_norm)) AS outlinks, "
        f"first(parent_depth) AS depth FROM {rs} GROUP BY parent_url")

    # ---- eligibility (job.go:792-806): the callback regexps OR the follow
    #      regexp; without a follow regexp every resolved link is eligible
    eligible_all = f"SELECT * FROM {rs}"
    if spec.follow_url_regexp:
        req_match = ["true"] + [f"{c} RLIKE {quote(rx)}" for c, rx in (
            ("url_norm", spec.callback_url_regexp),
            ("anchor", spec.callback_anchor_regexp)) if rx]
        eligible_all += (f" WHERE ({' AND '.join(req_match)}) OR url_norm "
                         f"RLIKE {quote(spec.follow_url_regexp)}")

    # ---- frontier URL gating (engine extension, not in the reference):
    #      suffix-blocklisted hosts and spam-signal URLs are dropped HERE,
    #      after eligibility but before the seen-set — they never consume
    #      seen-set space, checkpoint IO, or politeness budget, and the
    #      drop count rides the round's single counters action.
    counters = []
    if spec.url_gating:
        from ideacrawler_spark.operators.urlfilter import (
            apply_url_gating, drop_gating_cols,
        )

        gt = v.persist(apply_url_gating(
            v.sql(eligible_all), spec, url_col="url_norm", host_col="host",
        ), "gated")
        counters.append(_counts(gt, n_url_blocked=_n_true("_url_blocked")))
        el = v.persist(drop_gating_cols(
            v.sql(f"SELECT * FROM {gt} WHERE NOT _url_blocked")), "eligible")
    else:
        el = (v.persist(v.sql(eligible_all), "eligible")
              if spec.follow_url_regexp else rs)

    # ---- dedup: in-round first occurrence, then anti-join the seen table.
    #      ``seen_bytes`` (the seen-set's hash-build size, None if unknown)
    #      picks the join. Below Spark's hash-build bound the exact hash
    #      anti-join reuses firsts' exchange and costs less than any probe.
    #      Above it, or unknown, a Bloom checkpoint lets provably-new rows
    #      skip the join (D1); without one, a known-large seen-set takes
    #      the sort-merge join, which spills.
    firsts = first_occurrence_sql(
        el, [c.split()[-1] for c in RESOLVED_COLUMNS])
    fits = seen_bytes is not None and _hash_build_fits(spark, seen_bytes)
    if bloom_dir is not None and not fits:
        from ideacrawler_spark.operators import bloom

        # persisted: both branches of the prefiltered anti-join read ONE
        # evaluation of the Python probe
        fl = v.persist(bloom.maybe_seen(
            v.sql(f"SELECT *, xxhash64(url_norm) AS url_hash FROM ({firsts})"),
            bloom_dir, n_shards=bloom_shards), "flagged")
        new_firsts = prefiltered_anti_join(v.sql(f"SELECT * FROM {fl}"), seen)
    else:
        # firsts comes straight out of the groupBy(url_norm): the
        # partitioned anti-join reuses that exchange and hash-probes the
        # seen side unsorted
        new_firsts = anti_join_seen(
            v.sql(firsts), seen, partitioned=fits or seen_bytes is None)
    nf = v.persist(new_firsts, "new_firsts")

    # ---- cross-domain quirk (job.go:842-845): mark seen, don't enqueue.
    #      The CHILD host is lowercase (purell mutated u.Host before
    #      u.Hostname() is read at job.go:842); the SEED side keeps the
    #      seed URL's raw case (j.domainname, worker.go:100-112) — so a
    #      mixed-case seed URL matches nothing and the job enqueues no
    #      children, exactly like the reference.
    #      Cross-domain rows are NOT enqueued but DO enter the seen-set:
    #      seen_new below is ALL of new_firsts, children only the same-host.
    same_host = ""
    if spec.seed_url and not spec.follow_other_domains:
        same_host = f" WHERE host = {quote(host_raw(spec.seed_url))}"
    child_method = "HEAD" if spec.check_content else "GET"

    # ---- the rows this round enqueues: children + HEAD requeues. They
    #      are counted here and ranked into frontier_next by the driver
    #      once their exact count is known (RoundResult.frontier_next).
    enq = (
        "SELECT parent_depth + 1 AS depth, parent_depth, parent_seq, "
        "link_pos, url_norm AS url, url_norm, host, anchor, meta, "
        f"{quote(child_method)} AS method, false AS pushed, "
        f"false AS no_callback FROM {nf}{same_host} "
        f"UNION ALL {head_requeues}")

    sql["seen_new"] = f"SELECT url_norm AS key FROM {nf}"

    # ---- callback OR-chain (job.go:210-273) -------------------------------
    cb = ["false"]
    if spec.callback_seed_url:
        cb.append("depth = 0")
    xpath_pairs = [p for p in (spec.callback_xpath_match,
                               spec.callback_xpath_regexp) if p]
    if not spec.callback_url_regexp and not xpath_pairs:
        cb = ["true"]  # no callback specs at all ⇒ ship everything
    if spec.callback_url_regexp:
        cb.append(f"url RLIKE {quote(spec.callback_url_regexp)}")
    if spec.callback_anchor_regexp:
        cb.append(f"anchor RLIKE {quote(spec.callback_anchor_regexp)}")
    if xpath_pairs:
        from ideacrawler_spark.functions.extract import xpath_match_udf

        # equality for BOTH variants (job.go:233-269 quirk)
        cb_col = F.expr(" OR ".join(cb))
        for pairs in xpath_pairs:
            cb_col = cb_col | xpath_match_udf(pairs)(F.col("_html"))
        ok = v.add(v.sql(f"SELECT * FROM {ok}").filter(cb_col), "callback")
        cb = ["true"]
    sql["shipped"] = (
        f"{shipped_err} UNION ALL SELECT fetch_seq, url, depth, "
        "anchor AS anchor_text, meta, _status AS status, "
        f"coalesce(_text, '') AS text, true AS success, {rnd} AS round "
        f"FROM {ok} WHERE ({' OR '.join(cb)}) AND NOT _is_feed")

    sql["order"] = (
        f"SELECT fetch_seq, url, host, depth, {rnd} AS round FROM {fe}")

    # ---- per-partition lineage metrics (D3): one row per host-hash shard.
    #      The reference only logs ad hoc (job.go:207,865); the engine keeps
    #      auditable counts per shard per round. The reference never
    #      retries (fetch.go:415-425: errors and robots-denials drop, no
    #      requeue). At most shuffle_partitions rows, one per shard.
    shard = f"CAST(pmod(xxhash64(host), {int(shuffle_partitions)}) AS INT)"
    sql["part_metrics"] = (
        f"SELECT {_one_task_hint(spark, shuffle_partitions)}{shard} AS shard, "
        f"count(*) AS admitted, {_n_true('NOT _allowed')} AS robots_denied, "
        f"{_n_true('_allowed')} AS fetched, {rnd} AS round, 0 AS retried "
        f"FROM {al} GROUP BY {shard}")
    metrics["retried"] = 0

    # ---- ALL round counters in ONE job: the single-row aggregates union
    #      into one frame, collected once (VERDICT r01: four separate
    #      collects were the round-latency floor)
    counters = [
        _counts(al, admitted="count(*)",
                robots_denied=_n_true("NOT _allowed")),
        _counts(fe, fetched="count(*)", errors=_n_true(
            f"_ctype_base = {mt} AND method = 'GET' AND NOT no_callback "
            f"AND {is_err}")),
        _counts(el, n_eligible="count(*)"),
        _counts(nf, n_new="count(*)",
                new_bytes=f"sum({seen_row_bytes_sql('url_norm')})"),
        _counts(f"({enq})", n_enq="count(*)"),
    ] + ([_counts(logged_out, n_logged_out="count(*)")] if login_guard
         else []) + counters
    sql["enq"] = enq
    sql["counters"] = ("SELECT /*+ COALESCE(1) */ * FROM ("
                       + " UNION ALL ".join(counters) + ")")
    return RoundResult(
        v, sql, seq_offset=seq_offset, shuffle_partitions=shuffle_partitions,
        metrics=metrics)
