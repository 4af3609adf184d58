"""Feature-eng packs #33-#36: distributional shape, ranking overlap, calendar structure.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .. import windows as W  # noqa: F401
from ._shared import SESSION_GAP_S, _t, _us  # noqa: F401


_EULER_GAMMA = 0.5772156649015329


def q_block_maxima(spark, sf_dir):
    """Per-event-type GUMBEL fit of 30-day BLOCK MAXIMA of daily
    counts — the extreme-value method-of-moments (scale =
    sqrt(6*var)/pi, location = mean - gamma*scale) that turns 'how
    bad was the worst day' into a return-level model. The
    block-maxima complement to `hill_tail`'s peaks-over-threshold.

    Blocks are epoch-day div 30 (identical integer arithmetic both
    engines — no calendar edge cases); block maxima, the moment sums
    and the variance numerator n*S2 - S^2 are exact BIGINTs; loc and
    scale are one fixed double expression each."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    blocks = daily.withColumn(
        "blk", F.expr("d div 30").cast("bigint")
    ).groupBy("event_type", "blk").agg(
        F.max("c").cast("bigint").alias("m")
    )
    agg = blocks.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.max("m").cast("bigint").alias("max_daily"),
        F.sum("m").cast("bigint").alias("s"),
        F.sum(F.col("m") * F.col("m")).cast("bigint").alias("s2"),
    )
    varn = (
        F.col("n_blocks") * F.col("s2") - F.col("s") * F.col("s")
    ).cast("bigint")
    agg = agg.withColumn("varn", varn)
    var = F.col("varn").cast("double") / (
        F.col("n_blocks") * (F.col("n_blocks") - 1)
    ).cast("double")
    scale = F.sqrt(F.lit(6.0) * var) / F.lit(3.141592653589793)
    mean = F.col("s").cast("double") / F.col("n_blocks").cast("double")
    return agg.where(
        (F.col("n_blocks") >= 3) & (F.col("varn") > 0)
    ).select(
        "event_type",
        "n_blocks",
        "max_daily",
        F.round(mean - F.lit(_EULER_GAMMA) * scale, 6).alias(
            "gumbel_loc"
        ),
        F.round(scale, 6).alias("gumbel_scale"),
    )


_LOGODDS_ALPHA = 0.5
_LOGODDS_TOPK = 5


def q_log_odds_terms(spark, sf_dir):
    """Per-source TOP-5 distinguishing tokens by z-scored WEIGHTED
    LOG-ODDS with a Dirichlet prior (Monroe, Colaresi & Quinn 2008,
    'Fightin' Words') — the corpus-comparison term ranking that,
    unlike `chi2_terms` and `tfidf_topk`, is variance-stabilized so
    rare tokens can't dominate.

    delta = ln-odds(source) - ln-odds(rest) with alpha = 0.5 and the
    V*alpha prior mass in each denominator; sigma^2 = 1/(y_s+alpha)
    + 1/(y_r+alpha); rank on the raw z (ties break on token) inside
    a per-source window, round for output only. V (global vocab) and
    corpus totals broadcast; only (source, token) rows materialize."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("token"),
    ).where(F.col("token") != "")
    st = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("y_s")
    )
    tot = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all")
    )
    n_s = st.groupBy("source").agg(F.sum("y_s").alias("n_s"))
    g = tot.agg(
        F.sum("c_all").cast("bigint").alias("n_all"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    j = (
        st.join(tot, "token")
        .join(F.broadcast(n_s), "source")
        .crossJoin(F.broadcast(g))
        .select(
            "source",
            "token",
            "y_s",
            (F.col("c_all") - F.col("y_s")).alias("y_r"),
            "n_s",
            (F.col("n_all") - F.col("n_s")).alias("n_r"),
            "v",
        )
    )
    a = F.lit(_LOGODDS_ALPHA)
    va = F.col("v").cast("double") * a
    ys = F.col("y_s").cast("double") + a
    yr = F.col("y_r").cast("double") + a
    ds = F.col("n_s").cast("double") + va - ys
    dr = F.col("n_r").cast("double") + va - yr
    z = (F.log(ys / ds) - F.log(yr / dr)) / F.sqrt(
        F.lit(1.0) / ys + F.lit(1.0) / yr
    )
    w = Window.partitionBy("source").orderBy(
        F.col("z").desc(), F.col("token")
    )
    ranked = (
        j.withColumn("z", z)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _LOGODDS_TOPK)
    )
    return ranked.select(
        "source",
        F.col("rk").cast("bigint").alias("rk"),
        "token",
        "y_s",
        F.round(F.col("z"), 6).alias("z_logodds"),
    )


def q_pareto_front(spark, sf_dir):
    """Per-source PARETO FRONT (skyline) of documents on
    (n_chars, distinct-token vocabulary) — the docs no other doc in
    the source beats on BOTH length and lexical diversity: the
    'keep the efficient frontier' selection rule for exemplar
    mining, and the classic skyline operator SQL lacks.

    Vocabulary is a JVM higher-order expression (split -> filter ->
    array_distinct -> size — no explode, no shuffle). The skyline
    uses one partition-local RANGE window: a doc survives iff its
    vocab exceeds max(vocab) over all docs with STRICTLY greater
    n_chars (RANGE ... 1 PRECEDING under the descending order —
    value-based, so equal-length docs never dominate each other).
    Dominance ties on both axes keep all tied docs (weak
    dominance)."""
    d = _t(spark, sf_dir, "documents")
    vocab = F.size(
        F.array_distinct(
            F.filter(
                F.split(F.trim(F.col("text")), "\\s+"),
                lambda x: x != F.lit(""),
            )
        )
    ).cast("bigint")
    base = d.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        vocab.alias("vocab"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    sky = base.withColumn("best_longer", F.max("vocab").over(w))
    return sky.where(
        F.col("best_longer").isNull()
        | (F.col("vocab") > F.col("best_longer"))
    ).select("source", "doc_id", "n_chars", "vocab")


_SAX_DAYS = 32
_SAX_BP = 0.6744897501960817  # N(0,1) upper-quartile breakpoint


def q_sax_words(spark, sf_dir):
    """Per-user SAX WORD — the Symbolic Aggregate approXimation of
    the first 32 active days' counts: z-normalize against the
    window's exact moments, then map each day to a quartile letter
    (a < -0.674 < b < 0 < c < 0.674 < d). The discretized shape
    signature used for time-series indexing/motif search; two users
    with the same word have the same weekly rhythm regardless of
    volume.

    The day cap bounds the per-user frame; moments are exact BIGINT
    sums so mu/sigma are single fixed double expressions, and the
    letters come from double comparisons both engines evaluate on
    identical values. The word assembles with an ordered string agg
    (array_sort on (day, letter) structs — deterministic)."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d"),
        )
        .groupBy("user_id", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wseq = Window.partitionBy("user_id").orderBy("d")
    head = daily.withColumn(
        "rk", F.row_number().over(wseq)
    ).where(F.col("rk") <= _SAX_DAYS)
    m = head.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    ).withColumn(
        "varn",
        (F.col("n") * F.col("s2") - F.col("s") * F.col("s")).cast(
            "bigint"
        ),
    ).where((F.col("n") >= 4) & (F.col("varn") > 0))
    j = head.join(m, "user_id")
    mu = F.col("s").cast("double") / F.col("n").cast("double")
    sd = F.sqrt(
        F.col("varn").cast("double")
        / (F.col("n") * (F.col("n") - 1)).cast("double")
    )
    z = (F.col("c").cast("double") - mu) / sd
    letter = (
        F.when(z < F.lit(-_SAX_BP), F.lit("a"))
        .when(z < F.lit(0.0), F.lit("b"))
        .when(z < F.lit(_SAX_BP), F.lit("c"))
        .otherwise(F.lit("d"))
    )
    per = j.withColumn("letter", letter)
    return (
        per.groupBy("user_id", "n")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("d"), F.col("letter"))
                        )
                    ),
                    lambda x: x.getField("letter"),
                ),
            ).alias("sax_word")
        )
        .select("user_id", F.col("n").alias("n_days"), "sax_word")
    )


def q_transition_entropy(spark, sf_dir):
    """Per-user CONDITIONAL ENTROPY of event-type transitions —
    H(next | prev) over the user's chronologically ordered event
    stream: 0 for deterministic state machines (bots), high for
    exploratory humans. The information-theoretic reduction of the
    `event_transitions` Markov-bigram counts.

    One partition-local lag window builds the bigrams; H*T =
    sum n_pn * ln(n_p / n_pn) over the per-(prev, next) counts —
    each term is one fixed double expression from two BIGINTs,
    ppm-fixed before the cross-row sum (association-order-proof),
    with the single division by T at the end."""
    e = _t(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bg = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev", F.lag("event_type").over(wseq))
        .where(F.col("prev").isNotNull())
        .groupBy("user_id", "prev", F.col("event_type").alias("nxt"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pn"))
    )
    np_ = bg.groupBy("user_id", "prev").agg(
        F.sum("n_pn").cast("bigint").alias("n_p")
    )
    terms = bg.join(np_, ["user_id", "prev"]).select(
        "user_id",
        "n_pn",
        F.expr(
            "CAST(round(1e6 * CAST(n_pn AS DOUBLE)"
            " * ln(CAST(n_p AS DOUBLE) / CAST(n_pn AS DOUBLE)))"
            " AS BIGINT)"
        ).alias("term_ppm"),
    )
    agg = terms.groupBy("user_id").agg(
        F.sum("n_pn").cast("bigint").alias("n_trans"),
        F.sum("term_ppm").cast("bigint").alias("sum_ppm"),
    )
    return agg.select(
        "user_id",
        "n_trans",
        F.round(
            F.col("sum_ppm").cast("double")
            / (F.lit(1e6) * F.col("n_trans").cast("double")),
            6,
        ).alias("h_cond"),
    )


def q_time_weighted_avg(spark, sf_dir):
    """Per-user TIME-WEIGHTED average event value — each value holds
    until the next event, so the mean weights by holding duration
    (the IoT/finance resampling rule; an arithmetic mean over
    irregular timestamps is biased toward burst periods). The
    last event has no successor and drops, per the standard
    left-closed convention.

    One partition-local lead window builds the holding intervals;
    value cents x interval MILLISECONDS keeps every product under
    2^62 (microseconds would overflow on multi-year spans), so
    numerator and denominator are exact BIGINTs and the average is
    one rounded division."""
    e = _t(spark, sf_dir, "events")
    iv = (
        e.select(
            "user_id",
            _us("ts").alias("us"),
            "event_id",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .withColumn(
            "next_us",
            F.lead("us").over(
                Window.partitionBy("user_id").orderBy("us", "event_id")
            ),
        )
        .where(F.col("next_us").isNotNull())
        .select(
            "user_id",
            "cents",
            F.expr("(next_us - us) div 1000").alias("w_ms"),
        )
    )
    agg = iv.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum(F.col("cents") * F.col("w_ms"))
        .cast("bigint")
        .alias("num"),
        F.sum("w_ms").cast("bigint").alias("den"),
    )
    return agg.where(F.col("den") > 0).select(
        "user_id",
        "n_intervals",
        F.round(
            F.col("num").cast("double") / F.col("den").cast("double"),
            6,
        ).alias("twa_cents"),
    )


def q_ohlc_bars(spark, sf_dir):
    """Per-(user, day) OHLC RESAMPLING of event values — open/high/
    low/close in exact cents plus the bar's event count: the
    irregular-to-regular downsampling primitive every time-series
    feature store starts from (candlesticks for markets, daily
    activity bars here).

    Open/close are conditional aggregates over a per-(user, day)
    row_number pair (first/last by (ts, event_id) — fully
    deterministic, no min_by/arg_min engine-semantics risk); high/
    low are plain min/max. One window + one hash agg, both keyed on
    (user_id, day) — the natural partitioning."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("bigint")
        .alias("d"),
        "ts",
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    wasc = Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
    wdesc = Window.partitionBy("user_id", "d").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    r = base.withColumn("rka", F.row_number().over(wasc)).withColumn(
        "rkd", F.row_number().over(wdesc)
    )
    return r.groupBy("user_id", "d").agg(
        F.max(F.when(F.col("rka") == 1, F.col("cents")))
        .cast("bigint")
        .alias("open"),
        F.max("cents").cast("bigint").alias("high"),
        F.min("cents").cast("bigint").alias("low"),
        F.max(F.when(F.col("rkd") == 1, F.col("cents")))
        .cast("bigint")
        .alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


def q_win_percentile_dist(spark, sf_dir):
    """percent_rank + cume_dist distribution windows over event
    value within each event type — the remaining two SQL-standard
    distribution window functions (`win_ntile` covered ntile;
    `win_rank` the ranking trio). Both are tie-aware by the SQL
    definition, so the (value, event_id) ordering matters only for
    row identity, not the emitted fractions.

    One partition-local window keyed on event_type; rounded to 6 in
    both engines."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    return base.select(
        "event_id",
        "event_type",
        "cents",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def q_interp_linear(spark, sf_dir):
    """LINEAR-interpolation gap fill of each user's daily net value
    — the missing days between two observed days get the straight-
    line value (prev + (next - prev) * (d - d_prev)/(d_next -
    d_prev)): the numeric-series companion to `backfill`'s
    forward-fill (ffill is right for states, interpolation for
    level measurements).

    Grid days come from one sequence() explode per user (bounded by
    the corpus day span); the bracketing observed (day, value)
    pairs come from two partition-local ignorenulls windows over
    the same grid; daily sums are exact cents, so the interpolation
    is one fixed double expression on BIGINT inputs. Leading/
    trailing unobserved days have no bracket and drop (inner
    interpolation only, like pandas interpolate(limit_area=
    'inside'))."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("user_id", "d")
        .agg(F.sum("cents").cast("bigint").alias("v"))
    )
    span = daily.groupBy("user_id").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d"),
    )
    g = grid.join(daily, ["user_id", "d"], "left")
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wnext = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_d = F.when(F.col("v").isNotNull(), F.col("d"))
    b = (
        g.withColumn("pv", F.last("v", ignorenulls=True).over(wprev))
        .withColumn("pd", F.last(obs_d, ignorenulls=True).over(wprev))
        .withColumn("nv", F.first("v", ignorenulls=True).over(wnext))
        .withColumn("nd", F.first(obs_d, ignorenulls=True).over(wnext))
    )
    interp = F.when(
        F.col("v").isNotNull(), F.col("v").cast("double")
    ).otherwise(
        F.col("pv").cast("double")
        + (F.col("nv") - F.col("pv")).cast("double")
        * (F.col("d") - F.col("pd")).cast("double")
        / (F.col("nd") - F.col("pd")).cast("double")
    )
    return b.where(
        F.col("pv").isNotNull() & F.col("nv").isNotNull()
    ).select(
        "user_id",
        "d",
        F.round(interp, 6).alias("value_cents"),
        F.col("v").isNotNull().alias("is_observed"),
    )


def q_streak_lengths(spark, sf_dir):
    """Per-user ACTIVITY STREAKS — longest run of consecutive active
    days, the number of distinct streaks, and the final streak's
    length (the 'current streak' as of the corpus horizon): the
    gamification/engagement feature, and the canonical
    GAPS-AND-ISLANDS identity-difference trick (d - row_number() is
    constant exactly within a run of consecutive days).

    One partition-local rank window on the per-(user, day) table,
    one island agg, one final rollup — all keyed on user_id. No
    self-joins, no sequences."""
    e = _t(spark, sf_dir, "events")
    days = (
        e.select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "grp", F.col("d") - F.row_number().over(w)
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("len"),
        F.max("d").cast("bigint").alias("end_d"),
    )
    return streaks.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("len").cast("bigint").alias("longest"),
        F.max_by("len", "end_d").cast("bigint").alias("last_streak"),
        F.sum("len").cast("bigint").alias("active_days"),
    )


_PATH_LEN = 4


def q_session_paths(spark, sf_dir):
    """TOP SESSION PATHS — the corpus-wide frequency table of each
    session's first four event types joined with '>' (the
    clickstream 'what do sessions look like' report; the path-shape
    complement to `session_funnel`'s fixed-pattern matching).

    Sessions come from the engine's gap sessionizer; the path
    assembles from an array_sort over (ts, event_id, type) structs
    (deterministic under concurrent timestamps), sliced to 4. One
    grouped path agg + a broadcast one-row total for the share."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    s = W.sessionize(ev, key="user_id", ts="ts", gap_seconds=SESSION_GAP_S)
    per = s.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda x: x.getField("event_type"),
                ),
                1,
                _PATH_LEN,
            ),
        ).alias("path")
    )
    tot = per.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        per.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .crossJoin(F.broadcast(tot))
        .select(
            "path",
            "n_sessions",
            F.round(
                F.col("n_sessions").cast("double")
                / F.col("n_total").cast("double"),
                6,
            ).alias("share"),
        )
    )


def q_type_corr_matrix(spark, sf_dir):
    """Cross-series PEARSON CORRELATION MATRIX of daily event counts
    between every pair of event types (upper triangle, long-form) —
    'do purchases move with clicks day-to-day?'. The multi-series
    alignment pattern (inner-join two derived series on the day key)
    that `grouped_corr` (two columns of one row) and `autocorr_lag1`
    (one series vs its own lag) don't cover.

    Days observed by BOTH types pair via one equi join on (day);
    the five moment sums are exact BIGINTs and the correlation is
    the n*Sxy - Sx*Sy identity — the only float ops are one sqrt of
    a product of exactly-cast doubles and one division. Output is
    C(types, 2) rows."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.d") == F.col("b.d"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.c").alias("x"),
        F.col("b.c").alias("y"),
    )
    m = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("bigint")
    deny = (
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    ).cast("bigint")
    return (
        m.withColumn("denx", denx)
        .withColumn("deny", deny)
        .where(
            (F.col("n") >= 2)
            & (F.col("denx") > 0)
            & (F.col("deny") > 0)
        )
        .select(
            "type_a",
            "type_b",
            F.col("n").alias("n_days"),
            F.round(
                num.cast("double")
                / F.sqrt(
                    F.col("denx").cast("double")
                    * F.col("deny").cast("double")
                ),
                6,
            ).alias("corr"),
        )
    )


def q_semi_additive(spark, sf_dir):
    """MONTH-END BALANCE rollup — the SEMI-ADDITIVE measure pattern:
    each user's LAST event value in the month is their closing
    balance; balances sum across users (additive over entities) but
    never across time (a quarter's balance is the last month's, not
    the sum). The snapshot-fact aggregation every BI layer special-
    cases, built from one per-(user, month) last-row pick.

    The closing row comes from a deterministic (ts, event_id)-desc
    row_number per (user, month) — month key is year*100 + month
    (identical integer arithmetic both engines). Sums are exact
    cents."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        (
            F.year("ts").cast("bigint") * 100
            + F.month("ts").cast("bigint")
        ).alias("ym"),
        "ts",
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    w = Window.partitionBy("user_id", "ym").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    closing = (
        base.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", "ym", F.col("cents").alias("balance"))
    )
    return closing.groupBy("ym").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("balance").cast("bigint").alias("total_balance"),
        F.max("balance").cast("bigint").alias("max_balance"),
    )


def q_time_to_convert(spark, sf_dir):
    """Per-user CLICK-TO-PURCHASE latency — within each gap-session,
    the microsecond gap from the session's first click to the first
    purchase at-or-after it; per user, the conversion count and the
    exact LOWER-MEDIAN gap in seconds. The time-dimension complement
    to `session_funnel`'s pattern matching and `attribution`'s
    credit assignment.

    Everything keys on (user, session): two conditional-min
    aggregates pick the click/purchase anchors, the median is a
    rank pick over the user's conversion gaps (bounded by sessions
    per user), and the only division is the exact µs → seconds
    integer div."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    s = W.sessionize(
        ev, key="user_id", ts="ts", gap_seconds=SESSION_GAP_S
    ).select(
        "user_id",
        "session_id",
        _us("ts").alias("us"),
        "event_type",
    )
    anchors = s.groupBy("user_id", "session_id").agg(
        F.min(
            F.when(F.col("event_type") == "click", F.col("us"))
        ).alias("click_us")
    )
    conv = (
        s.join(anchors, ["user_id", "session_id"])
        .where(
            (F.col("event_type") == "purchase")
            & F.col("click_us").isNotNull()
            & (F.col("us") >= F.col("click_us"))
        )
        .groupBy("user_id", "session_id", "click_us")
        .agg(F.min("us").alias("purchase_us"))
        .select(
            "user_id",
            F.expr("(purchase_us - click_us) div 1000000")
            .cast("bigint")
            .alias("gap_s"),
        )
    )
    wrk = Window.partitionBy("user_id").orderBy("gap_s")
    wcnt = Window.partitionBy("user_id")
    ranked = conv.withColumn(
        "rk", F.row_number().over(wrk)
    ).withColumn("n_conv", F.count(F.lit(1)).over(wcnt))
    return ranked.where(
        F.col("rk") == F.expr("(n_conv + 1) div 2")
    ).select(
        "user_id",
        F.col("n_conv").cast("bigint").alias("n_conversions"),
        F.col("gap_s").alias("median_gap_s"),
    )


def q_abandonment(spark, sf_dir):
    """Per-user SESSION ABANDONMENT — of the gap-sessions containing
    a click, the fraction with NO purchase at-or-after the first
    click: the conversion-funnel drop-off rate, exact-rational until
    one rounded division. The rate summary over the same
    (session, anchor) structure as `time_to_convert`.

    One sessionize pass, one per-session conditional agg, one
    per-user rollup — every shuffle keys on user_id."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    s = W.sessionize(
        ev, key="user_id", ts="ts", gap_seconds=SESSION_GAP_S
    ).select(
        "user_id", "session_id", _us("ts").alias("us"), "event_type"
    )
    per = s.groupBy("user_id", "session_id").agg(
        F.min(
            F.when(F.col("event_type") == "click", F.col("us"))
        ).alias("click_us"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("us"))
        ).alias("last_purchase_us"),
    )
    flagged = per.where(F.col("click_us").isNotNull()).select(
        "user_id",
        (
            F.col("last_purchase_us").isNotNull()
            & (F.col("last_purchase_us") >= F.col("click_us"))
        )
        .cast("bigint")
        .alias("converted"),
    )
    agg = flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("click_sessions"),
        F.sum("converted").cast("bigint").alias("converted_sessions"),
    )
    return agg.select(
        "user_id",
        "click_sessions",
        "converted_sessions",
        F.round(
            (F.col("click_sessions") - F.col("converted_sessions"))
            .cast("double")
            / F.col("click_sessions").cast("double"),
            6,
        ).alias("abandonment_rate"),
    )


def q_seasonal_naive_mae(spark, sf_dir):
    """Per-event-type SEASONAL-NAIVE forecast error — predict each
    day's count with the count 7 days earlier and report MAE and
    the mean-relative MAE: the standard forecastability floor every
    real model must beat (and a direct weekly-seasonality strength
    read — low relative MAE means lag-7 explains the series).

    The forecast alignment is one self-join of the per-(type, day)
    table on (type, d - 7); absolute errors and day sums are exact
    BIGINTs; two rounded divisions at the end."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.d") == F.col("a.d") + 7),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("b.c").alias("actual"),
        F.col("a.c").alias("forecast"),
    )
    agg = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.abs(F.col("actual") - F.col("forecast")))
        .cast("bigint")
        .alias("abs_err"),
        F.sum("actual").cast("bigint").alias("actual_sum"),
    )
    return agg.where(F.col("actual_sum") > 0).select(
        "event_type",
        "n_pairs",
        F.round(
            F.col("abs_err").cast("double")
            / F.col("n_pairs").cast("double"),
            6,
        ).alias("mae"),
        F.round(
            F.col("abs_err").cast("double")
            / F.col("actual_sum").cast("double"),
            6,
        ).alias("rel_mae"),
    )


def q_gap_percentiles(spark, sf_dir):
    """Per-user EXACT p50/p90 of inter-event gaps (seconds) — the
    distributional cadence summary behind `gap_detection`'s
    threshold flags and `order_gap_cv`'s single dispersion number:
    p50 is typical rhythm, p90 the routine long pause, and their
    ratio a tail-heaviness read that needs no model.

    Gaps come from one lag window; both percentiles are exact
    LOWER-percentile rank picks ((n+1) div 2 and ceil(9n/10) —
    integer arithmetic both engines) over a per-user rank window,
    folded to one output row per user with conditional aggregates.
    No float percentile interpolation anywhere."""
    e = _t(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = (
        e.select(
            "user_id", _us("ts").alias("us"), "event_id"
        )
        .withColumn("prev_us", F.lag("us").over(wseq))
        .where(F.col("prev_us").isNotNull())
        .select(
            "user_id",
            F.expr("(us - prev_us) div 1000000")
            .cast("bigint")
            .alias("gap_s"),
        )
    )
    wrk = Window.partitionBy("user_id").orderBy("gap_s")
    wcnt = Window.partitionBy("user_id")
    ranked = gaps.withColumn(
        "rk", F.row_number().over(wrk)
    ).withColumn("n", F.count(F.lit(1)).over(wcnt))
    return (
        ranked.groupBy("user_id", "n")
        .agg(
            F.max(
                F.when(
                    F.col("rk") == F.expr("(n + 1) div 2"),
                    F.col("gap_s"),
                )
            )
            .cast("bigint")
            .alias("p50_gap_s"),
            F.max(
                F.when(
                    F.col("rk") == F.expr("(9 * n + 9) div 10"),
                    F.col("gap_s"),
                )
            )
            .cast("bigint")
            .alias("p90_gap_s"),
        )
        .select(
            "user_id",
            F.col("n").alias("n_gaps"),
            "p50_gap_s",
            "p90_gap_s",
        )
    )


_RBO_K = 20
_RBO_P = 0.9


def q_rbo_overlap(spark, sf_dir):
    """Per-source RANK-BIASED OVERLAP (Webber et al. 2010) between
    the source's top-20 tokens and the corpus top-20 — the
    top-weighted list-similarity measure that `topk_overlap`'s plain
    set intersection ignores rank for: agreement at depth 1 counts
    ~10x more than at depth 20 with p = 0.9.

    RBO@K = (1-p) * sum_d p^(d-1) * |A_d ∩ B_d| / d decomposes per
    MATCHED token into sum_{d >= max(r_A, r_B)} p^(d-1)/d, so the
    whole statistic is one join of the two top-K lists plus a range
    join against a 20-row depth table — every term ppb-fixed before
    the sum. The corpus list is a global top-K (TakeOrderedAndProject
    over the grouped vocab — no global window); the source lists are
    one partition-local rank window."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("token"),
    ).where(F.col("token") != "")
    st = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_s")
    )
    tot = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all")
    )
    wsrc = Window.partitionBy("source").orderBy(
        F.col("c_s").desc(), F.col("token")
    )
    src_top = st.withColumn("rs", F.row_number().over(wsrc)).where(
        F.col("rs") <= _RBO_K
    )
    cor_top = (
        tot.orderBy(F.col("c_all").desc(), F.col("token"))
        .limit(_RBO_K)
        .withColumn(
            "rc",
            F.row_number().over(
                Window.orderBy(F.col("c_all").desc(), F.col("token"))
            ),
        )
    )
    matches = src_top.join(F.broadcast(cor_top), "token").select(
        "source",
        F.greatest(F.col("rs"), F.col("rc")).alias("m"),
    )
    depths = spark.range(1, _RBO_K + 1).select(
        F.col("id").cast("bigint").alias("dep")
    )
    terms = matches.join(
        F.broadcast(depths), F.col("dep") >= F.col("m")
    ).select(
        "source",
        F.expr(
            f"CAST(round(1e9 * pow({_RBO_P}, dep - 1)"
            " / CAST(dep AS DOUBLE)) AS BIGINT)"
        ).alias("term_ppb"),
    )
    agg = terms.groupBy("source").agg(
        F.sum("term_ppb").cast("bigint").alias("sum_ppb"),
    )
    n_match = matches.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("overlap_k")
    )
    return agg.join(n_match, "source").select(
        "source",
        F.lit(_RBO_K).cast("bigint").alias("k"),
        "overlap_k",
        F.round(
            F.lit(1.0 - _RBO_P)
            * F.col("sum_ppb").cast("double")
            / F.lit(1e9),
            6,
        ).alias("rbo"),
    )


def q_weighted_jaccard(spark, sf_dir):
    """Per-source WEIGHTED JACCARD similarity between the source's
    token distribution and the REST of the corpus — sum min(p, q) /
    sum max(p, q), the frequency-aware overlap that plain set
    Jaccard (`source_vocab_jaccard`) flattens to presence bits.

    FULLY EXACT: with the common denominator n_s * n_r, min(p, q)
    per token is min(c_s*n_r, c_r*n_s) — a BIGINT comparison, no
    floats — and the never-seen corpus tokens add (n_r - cr_seen) *
    n_s to the max side in closed form (their min side is 0), the
    same complement identity as tvd_drift/jsd_drift. ONE double
    division total."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("token"),
    ).where(F.col("token") != "")
    st = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_s")
    )
    tot = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all")
    )
    n_s = st.groupBy("source").agg(F.sum("c_s").alias("n_s"))
    n_all = tot.agg(F.sum("c_all").alias("n_all"))
    j = (
        st.join(tot, "token")
        .join(F.broadcast(n_s), "source")
        .crossJoin(F.broadcast(n_all))
        .select(
            "source",
            "n_s",
            (F.col("n_all") - F.col("n_s")).alias("n_r"),
            (F.col("c_s") * (F.col("n_all") - F.col("n_s"))).alias(
                "ps"
            ),
            ((F.col("c_all") - F.col("c_s")) * F.col("n_s")).alias(
                "qs"
            ),
            (F.col("c_all") - F.col("c_s")).alias("c_r"),
        )
    )
    per = j.groupBy("source", "n_s", "n_r").agg(
        F.sum(F.least(F.col("ps"), F.col("qs")))
        .cast("bigint")
        .alias("min_seen"),
        F.sum(F.greatest(F.col("ps"), F.col("qs")))
        .cast("bigint")
        .alias("max_seen"),
        F.sum("c_r").cast("bigint").alias("cr_seen"),
    )
    max_total = F.col("max_seen") + (
        F.col("n_r") - F.col("cr_seen")
    ) * F.col("n_s")
    return per.where(F.col("n_r") > 0).select(
        "source",
        "n_s",
        F.round(
            F.col("min_seen").cast("double") / max_total.cast("double"),
            6,
        ).alias("weighted_jaccard"),
    )


def q_burstiness_gb(spark, sf_dir):
    """Per-user GOH-BARABASI burstiness of inter-event gaps —
    B = (sigma - mu)/(sigma + mu) over the gap-seconds series: -1
    for a metronome, 0 for Poisson, toward +1 for heavy-tailed
    bursts. The normalized one-number cadence next to
    `gap_percentiles`' quantiles and `order_gap_cv`'s order-stream
    CV (B is bounded, CV is not).

    Gaps from one lag window; moments exact BIGINTs; sigma/mu and B
    are one fixed double expression (sample std)."""
    e = _t(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = (
        e.select("user_id", _us("ts").alias("us"), "event_id")
        .withColumn("prev_us", F.lag("us").over(wseq))
        .where(F.col("prev_us").isNotNull())
        .select(
            "user_id",
            F.expr("(us - prev_us) div 1000000")
            .cast("bigint")
            .alias("g"),
        )
    )
    m = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("s"),
        F.sum(F.col("g") * F.col("g")).cast("bigint").alias("s2"),
    ).withColumn(
        "varn",
        (F.col("n") * F.col("s2") - F.col("s") * F.col("s")).cast(
            "bigint"
        ),
    )
    mu = F.col("s").cast("double") / F.col("n").cast("double")
    sd = F.sqrt(
        F.col("varn").cast("double")
        / (F.col("n") * (F.col("n") - 1)).cast("double")
    )
    return m.where(
        (F.col("n") >= 2) & (F.col("s") > 0) & (F.col("varn") >= 0)
    ).select(
        "user_id",
        F.col("n").alias("n_gaps"),
        F.round(mu, 6).alias("mean_gap_s"),
        F.round((sd - mu) / (sd + mu), 6).alias("burstiness"),
    )


def q_lorenz_curve(spark, sf_dir):
    """LORENZ CURVE of event concentration over users, decile
    long-form — users ranked by activity, cut into 10 exact global
    deciles, each reporting its user count, event share, and the
    cumulative share (the curve `gini_skew` integrates to one
    number). The '10% of users produce X% of traffic' table.

    The global ranking runs through ``windows.global_row_number``
    (range repartition + broadcast prefix offsets — no
    single-partition window over users); deciles are integer rank
    arithmetic; the cumulative window runs over exactly 10 rows."""
    e = _t(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ranked = W.global_row_number(
        per, [F.col("c").asc(), F.col("user_id").asc()], "rk"
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("c").cast("bigint").alias("n_events"),
    )
    dec = (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn(
            "decile",
            F.expr("((rk - 1) * 10) div n_users + 1").cast("bigint"),
        )
        .groupBy("decile", "n_users", "n_events")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users_d"),
            F.sum("c").cast("bigint").alias("events_d"),
        )
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return dec.select(
        "decile",
        "n_users_d",
        "events_d",
        F.round(
            F.col("events_d").cast("double")
            / F.col("n_events").cast("double"),
            6,
        ).alias("share"),
        F.round(
            F.sum("events_d").over(wcum).cast("double")
            / F.col("n_events").cast("double"),
            6,
        ).alias("cum_share"),
    )


_FIRSTK = 10


def q_first_k_profile(spark, sf_dir):
    """Per-user COLD-START profile over the FIRST 10 events — event
    count (<= 10), distinct types, click share, total value in
    cents, and the span in seconds: the features a ranking model has
    at onboarding time, computed leakage-free by construction (only
    the first K rows per user ever aggregate).

    One partition-local rank window, one conditional hash agg —
    both keyed on user_id."""
    e = _t(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("us", "event_id")
    head = (
        e.select(
            "user_id",
            _us("ts").alias("us"),
            "event_id",
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .withColumn("rk", F.row_number().over(wseq))
        .where(F.col("rk") <= _FIRSTK)
    )
    return head.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count_distinct("event_type").cast("bigint").alias("n_types"),
        F.sum((F.col("event_type") == "click").cast("bigint"))
        .cast("bigint")
        .alias("n_clicks"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.expr("(max(us) - min(us)) div 1000000")
        .cast("bigint")
        .alias("span_s"),
    )


def q_dwell_share(spark, sf_dir):
    """DWELL-TIME SHARE per event type — each event 'holds' until
    the user's next event (the same left-closed intervals as
    `time_weighted_avg`), and the holding time attributes to the
    CURRENT event's type: 'where does user time actually go?',
    which raw event counts misstate badly when types differ in
    dwell.

    One lead window per user, one global per-type agg, a broadcast
    one-row total; all sums exact millisecond BIGINTs with one
    rounded division per type."""
    e = _t(spark, sf_dir, "events")
    iv = (
        e.select(
            "user_id",
            _us("ts").alias("us"),
            "event_id",
            "event_type",
        )
        .withColumn(
            "next_us",
            F.lead("us").over(
                Window.partitionBy("user_id").orderBy("us", "event_id")
            ),
        )
        .where(F.col("next_us").isNotNull())
        .select(
            "event_type",
            F.expr("(next_us - us) div 1000").alias("w_ms"),
        )
    )
    per = iv.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum("w_ms").cast("bigint").alias("dwell_ms"),
    )
    tot = per.agg(F.sum("dwell_ms").cast("bigint").alias("total_ms"))
    return per.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_intervals",
        "dwell_ms",
        F.round(
            F.col("dwell_ms").cast("double")
            / F.col("total_ms").cast("double"),
            6,
        ).alias("dwell_share"),
    )
