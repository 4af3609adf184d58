"""Feature-eng packs #36-#39: extremes, drift divergences, sequence/transition features.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ._shared import SESSION_GAP_S, _t, _us  # noqa: F401


_BH_LONG = 300  # chars: a "long" document for the per-source rate test


def q_bh_fdr(spark, sf_dir):
    """BENJAMINI-HOCHBERG FDR step-up over per-source two-sided
    z-tests of the 'long document' rate (n_chars >= 300, ~ the
    corpus median) vs the Laplace-smoothed corpus rate (long_all+1)/
    (n_all+2), which can never be 0 or 1 so the variance term stays
    positive on degenerate corpora — the standard multiple-testing correction a corpus
    monitor needs when it screens MANY sources at once (20 marginal
    tests at alpha=.10 produce ~2 false alarms; BH caps the expected
    FALSE-DISCOVERY share instead).

    The per-source z is exact integer-ratio math until one sqrt; the
    p-value uses the logistic CDF approximation 2/(1+exp(1.702|z|))
    (Bowling et al. 2009) so both engines evaluate one closed-form
    expression — no erf needed. The step-up rule p_(k) <= alpha*k/m
    is compared in EXACT integer space (p_ppb * m <= 1e8 * k, alpha
    = 0.10) so no cross-engine float tie can flip a rejection. The
    rank window runs on the POST-AGGREGATE table — O(#sources) rows,
    one executor, never the raw corpus."""
    d = _t(spark, sf_dir, "documents")
    per = (
        d.select(
            "source",
            (F.col("n_chars") >= _BH_LONG).cast("bigint").alias("is_long"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("is_long").cast("bigint").alias("n_long"),
        )
    )
    tot = per.agg(
        F.sum("n_docs").cast("bigint").alias("n_all"),
        F.sum("n_long").cast("bigint").alias("long_all"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    j = per.crossJoin(F.broadcast(tot)).withColumn(
        "z",
        F.expr(
            "(CAST(n_long AS DOUBLE) / n_docs"
            " - (CAST(long_all AS DOUBLE) + 1.0) / (n_all + 2))"
            " / sqrt((CAST(long_all AS DOUBLE) + 1.0) / (n_all + 2)"
            " * (1.0 - (CAST(long_all AS DOUBLE) + 1.0) / (n_all + 2))"
            " / n_docs)"
        ),
    ).withColumn(
        "p_ppb",
        F.expr(
            "CAST(round(1e9 * 2.0 / (1.0 + exp(1.702 * abs(z))))"
            " AS BIGINT)"
        ),
    )
    w = Window.orderBy("p_ppb", "source")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = j.withColumn(
        "p_rank", F.row_number().over(w).cast("bigint")
    ).withColumn(
        "k_max",
        F.max(
            F.when(
                F.col("p_ppb") * F.col("m")
                <= F.lit(100000000) * F.col("p_rank"),
                F.col("p_rank"),
            )
        ).over(wall),
    )
    return ranked.select(
        "source",
        "n_docs",
        "n_long",
        F.round("z", 6).alias("z"),
        "p_ppb",
        "p_rank",
        (F.col("p_rank") <= F.coalesce(F.col("k_max"), F.lit(0))).alias(
            "reject"
        ),
    )


def q_rayleigh_daily(spark, sf_dir):
    """RAYLEIGH TEST for daily periodicity per user: treat each
    event's hour-of-day as an angle on the 24h circle and compute
    the mean resultant length R = |sum e^{i*theta}| / n plus the
    Rayleigh statistic z = n*R^2 — the circular-statistics answer to
    'does this user have a daily rhythm, and how concentrated is
    it?'. R near 0 = activity spread around the clock; near 1 = all
    events at one hour. This is exactly the first Fourier (Goertzel)
    coefficient of the hour-of-day profile, i.e. a one-bin spectral
    energy at the 24-hour period.

    One map-side cos/sin projection plus one hash agg per user — no
    window, no shuffle beyond the groupBy, no Python."""
    e = _t(spark, sf_dir, "events")
    per = (
        e.select(
            "user_id",
            F.expr("cos(pi() * hour(ts) / 12.0)").alias("cx"),
            F.expr("sin(pi() * hour(ts) / 12.0)").alias("sy"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cx").alias("sc"),
            F.sum("sy").alias("ss"),
        )
    )
    return per.select(
        "user_id",
        "n_events",
        F.round(
            F.expr("sqrt(sc * sc + ss * ss) / n_events"), 6
        ).alias("resultant"),
        F.round(F.expr("(sc * sc + ss * ss) / n_events"), 6).alias(
            "rayleigh_z"
        ),
    )


def q_markov_surprise(spark, sf_dir):
    """MARKOV SURPRISE per user: the mean negative log2 probability
    of the user's event-type transitions under the CORPUS-level
    add-one-smoothed first-order transition model — 'how atypical is
    this user's behavioural sequence?' in bits/step. The classic
    sequence-anomaly feature: bots and scripted traffic score far
    from organic users because their transition distribution
    concentrates on paths the corpus model finds unlikely (or
    pathologically likely).

    The transition model is O(|types|^2) rows — aggregated once and
    BROADCAST to the per-user step stream; per-user steps come from
    one lag window; the final agg is one hash shuffle. Smoothing
    P(next|prev) = (c_pn + 1) / (c_p + V) keeps every step finite."""
    e = _t(spark, sf_dir, "events")
    steps = (
        e.select("user_id", _us("ts").alias("us"), "event_id", "event_type")
        .withColumn(
            "prev",
            F.lag("event_type").over(
                Window.partitionBy("user_id").orderBy("us", "event_id")
            ),
        )
        .where(F.col("prev").isNotNull())
        .select("user_id", "prev", F.col("event_type").alias("cur"))
    )
    pair = steps.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_pn")
    )
    prevc = steps.groupBy("prev").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_p")
    )
    vcnt = e.agg(
        F.countDistinct("event_type").cast("bigint").alias("v")
    )
    model = (
        pair.join(prevc, "prev")
        .crossJoin(F.broadcast(vcnt))
        .withColumn(
            "bits",
            F.expr(
                "-log2((CAST(c_pn AS DOUBLE) + 1.0)"
                " / (CAST(c_p AS DOUBLE) + v))"
            ),
        )
        .select("prev", "cur", "bits")
    )
    return (
        steps.join(F.broadcast(model), ["prev", "cur"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_steps"),
            F.round(F.avg("bits"), 6).alias("surprise_bits"),
        )
    )


def q_readability(spark, sf_dir):
    """FLESCH READING EASE per source with fully deterministic
    proxies: words = whitespace tokens, sentences = runs of [.!?]
    (min 1 per doc), syllables = vowel-group runs [aeiouy]+ in the
    lowercased text floored at one per word. The classic text-quality
    signal for LLM corpus curation (too-low = legalese/boilerplate,
    too-high = fragment soup), computed without any tokenizer
    dependency so Spark and the oracle agree byte-for-byte.

    Run counting uses the replace-length trick — length after
    collapsing each run to one char minus length after deleting the
    runs — so the whole featurizer is regexp_replace + length, all
    JVM codegen. Counts aggregate as exact BIGINT sums; the only
    doubles are the three final ratios and the per-doc FRE mean."""
    d = _t(spark, sf_dir, "documents")
    per = (
        d.where(F.trim(F.col("text")) != "")
        .select(
            "source",
            F.size(F.split(F.trim(F.col("text")), "\\s+"))
            .cast("bigint")
            .alias("words"),
            F.greatest(
                F.lit(1).cast("bigint"),
                (
                    F.length(F.regexp_replace(F.col("text"), "[.!?]+", "#"))
                    - F.length(F.regexp_replace(F.col("text"), "[.!?]+", ""))
                ).cast("bigint"),
            ).alias("sents"),
            (
                F.length(
                    F.regexp_replace(F.lower(F.col("text")), "[aeiouy]+", "#")
                )
                - F.length(
                    F.regexp_replace(F.lower(F.col("text")), "[aeiouy]+", "")
                )
            )
            .cast("bigint")
            .alias("syll0"),
        )
        .withColumn("syll", F.greatest(F.col("syll0"), F.col("words")))
        .withColumn(
            "fre",
            F.expr(
                "206.835 - 1.015 * (CAST(words AS DOUBLE) / sents)"
                " - 84.6 * (CAST(syll AS DOUBLE) / words)"
            ),
        )
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("sum_words"),
        F.sum("sents").cast("bigint").alias("sum_sents"),
        F.sum("syll").cast("bigint").alias("sum_syll"),
        F.round(
            F.sum("words").cast("double") / F.sum("sents").cast("double"), 6
        ).alias("words_per_sent"),
        F.round(
            F.sum("syll").cast("double") / F.sum("words").cast("double"), 6
        ).alias("syll_per_word"),
        F.round(F.avg("fre"), 6).alias("flesch"),
    )


def q_hapax_ratio(spark, sf_dir):
    """HAPAX LEGOMENA profile per source: the share of the source's
    vocabulary that occurs exactly once (hapax) and exactly twice
    (dis legomena) — the head of the frequency spectrum that drives
    Good-Turing mass estimates and is the quickest vocabulary-growth
    fingerprint (natural prose ~40-60% hapax; template/boilerplate
    text collapses far below). Complements `yule_k` (a weighted
    second moment of the same spectrum) and `heaps_two_point` (the
    growth-curve view).

    Two hash aggs — (source, token) counts then a per-source
    spectrum roll-up — everything exact BIGINT until two final
    rounded ratios."""
    d = _t(spark, sf_dir, "documents")
    st = (
        d.select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("token"),
        )
        .where(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return st.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum((F.col("c") == 1).cast("bigint"))
        .cast("bigint")
        .alias("hapax"),
        F.sum((F.col("c") == 2).cast("bigint"))
        .cast("bigint")
        .alias("dis_legomena"),
        F.round(
            F.sum((F.col("c") == 1).cast("bigint")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("hapax_ratio"),
        F.round(
            F.sum((F.col("c") == 1).cast("bigint")).cast("double")
            / F.sum("c").cast("double"),
            6,
        ).alias("hapax_token_share"),
    )


def q_gini_mean_diff(spark, sf_dir):
    """GINI MEAN DIFFERENCE per event type: the mean absolute
    difference between two random values, E|X-Y| — the robust
    dispersion measure behind the Gini index, less outlier-dominated
    than variance and scale-interpretable (same units as the data).
    Computed by the order-statistics identity
    GMD = 2/(n(n-1)) * sum_i (2i - n - 1) x_(i), i.e. ONE rank
    window + ONE hash agg instead of the naive O(n^2) pair join;
    sum_i (2i-n-1) x_(i) decomposes further to 2*sum(i*x_i) -
    (n+1)*sum(x_i) so the window only needs row_number, not n.

    Values quantize to exact integer CENTS first (the pack-wide
    trick), so the rank-weighted sums are exact BIGINTs in both
    engines and the only doubles are the two final rounded ratios.
    Also emits the Gini INDEX = GMD / (2*mean) = S/((n-1)*sum)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    r = (
        e.select(
            "event_type",
            "event_id",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
    )
    agg = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("rn") * F.col("cents")).cast("bigint").alias("sic"),
        F.sum("cents").cast("bigint").alias("sc"),
    )
    return agg.select(
        "event_type",
        "n_events",
        (F.lit(2) * F.col("sic") - (F.col("n_events") + 1) * F.col("sc"))
        .cast("bigint")
        .alias("s_weighted"),
        F.round(
            F.expr(
                "2.0 * (2 * sic - (n_events + 1) * sc)"
                " / (CAST(n_events AS DOUBLE) * (n_events - 1)) / 100.0"
            ),
            6,
        ).alias("gmd"),
        F.round(
            F.expr(
                "CAST(2 * sic - (n_events + 1) * sc AS DOUBLE)"
                " / (CAST(n_events - 1 AS DOUBLE) * sc)"
            ),
            6,
        ).alias("gini"),
    )


def q_pinball_loss(spark, sf_dir):
    """PINBALL (quantile) LOSS forecast evaluation: split the event
    stream at the temporal midpoint, fit the q=0.9 quantile of each
    type's value on the TRAIN half, and score it on the TEST half
    with the pinball loss 0.9*(y-q) if y>=q else 0.1*(q-y) — the
    proper scoring rule for quantile forecasts (what 'is our p90
    estimate any good next week?' actually means). The constant-
    quantile predictor is the standard baseline every fancier
    forecaster must beat.

    Values quantize to exact cents; the split point is exact integer
    microseconds ((min+max) div 2); the only floats are the
    interpolated train quantile and the mean test loss. Train
    quantiles are O(#types) rows, broadcast to the test scan."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        _us("ts").alias("us"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    split = base.agg(
        F.expr("(min(us) + max(us)) div 2").alias("cut_us")
    )
    b = base.crossJoin(F.broadcast(split))
    train_q = (
        b.where(F.col("us") < F.col("cut_us"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
            F.expr("percentile(cents, 0.9)").alias("q90c"),
        )
    )
    test = b.where(F.col("us") >= F.col("cut_us"))
    scored = test.join(F.broadcast(train_q), "event_type").withColumn(
        "loss_c",
        F.expr(
            "CASE WHEN cents >= q90c THEN 0.9 * (cents - q90c)"
            " ELSE 0.1 * (q90c - cents) END"
        ),
    )
    return scored.groupBy("event_type").agg(
        F.max("n_train").alias("n_train"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.round(F.max("q90c") / 100.0, 6).alias("q90"),
        F.round(F.avg("loss_c") / 100.0, 6).alias("pinball"),
        F.round(
            F.avg((F.col("cents") >= F.col("q90c")).cast("double")), 6
        ).alias("test_coverage"),
    )


def q_hurst_vt(spark, sf_dir):
    """HURST EXPONENT via the variance-time plot at two block sizes:
    for a self-similar count process, Var(4-day block sums) =
    4^(2H) * Var(1-day counts), so H = log(V4/V1) / (2*log 4) — the
    classic two-point long-range-dependence probe (H ~ 0.5 = Poisson-
    like, H -> 1 = strongly bursty/persistent traffic), the
    aggregated-series cousin of `autocorr_lag1` and `fano_factor`.

    Daily counts are exact BIGINTs over OBSERVED days per type;
    4-blocks are consecutive observed days (rank window), truncated
    to complete blocks. Both variances come from exact integer sums
    (n*S2 - S^2) / n^2, so the only floats are two divisions and one
    log ratio. NULL when either variance is 0 (constant series)."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    blk = daily.withColumn(
        "blk", ((F.row_number().over(w) - 1) / 4).cast("bigint")
    )
    v1 = blk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    b4 = (
        blk.groupBy("event_type", "blk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("bn"),
            F.sum("c").cast("bigint").alias("bc"),
        )
        .where(F.col("bn") == 4)
    )
    v4 = b4.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum("bc").cast("bigint").alias("t1"),
        F.sum(F.col("bc") * F.col("bc")).cast("bigint").alias("t2"),
    )
    j = v1.join(v4, "event_type").withColumn(
        "v1d",
        F.expr(
            "(CAST(n_days AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
            " / (CAST(n_days AS DOUBLE) * n_days)"
        ),
    ).withColumn(
        "v4d",
        F.expr(
            "(CAST(n_blocks AS DOUBLE) * t2 - CAST(t1 AS DOUBLE) * t1)"
            " / (CAST(n_blocks AS DOUBLE) * n_blocks)"
        ),
    )
    return j.select(
        "event_type",
        "n_days",
        "n_blocks",
        F.round("v1d", 6).alias("var_1d"),
        F.round("v4d", 6).alias("var_4d"),
        F.round(
            F.expr(
                "CASE WHEN v1d > 0 AND v4d > 0"
                " THEN ln(v4d / v1d) / (2.0 * ln(4.0)) END"
            ),
            6,
        ).alias("hurst"),
    )


def q_running_records(spark, sf_dir):
    """RUNNING RECORDS per user: how many events set a new all-time
    personal maximum value — for an i.i.d. sequence the expected
    record count is the harmonic number H_n ~ ln(n), so the ratio
    records/H_n is a scale-free trendiness signal (>1 = values drift
    upward, <1 = early peak then stagnation). Record statistics are
    the classic distribution-free test for trend in the EXTREMES,
    complementing `mann_kendall` (which tests the median trend).

    One running-max window (rows unbounded-preceding to -1) on exact
    cents, one row_number for the harmonic term (H_n = sum over the
    user's rows of 1/rank — no side table needed), one hash agg."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    r = (
        e.select(
            "user_id",
            _us("ts").alias("us"),
            "event_id",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .withColumn(
            "prev_max",
            F.max("cents").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
    )
    return r.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(
            (
                F.col("prev_max").isNull()
                | (F.col("cents") > F.col("prev_max"))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("n_records"),
        F.round(F.sum(F.lit(1.0) / F.col("rn")), 6).alias("h_n"),
        F.round(
            F.sum(
                (
                    F.col("prev_max").isNull()
                    | (F.col("cents") > F.col("prev_max"))
                ).cast("bigint")
            ).cast("double")
            / F.sum(F.lit(1.0) / F.col("rn")),
            6,
        ).alias("record_ratio"),
    )


def q_turning_points(spark, sf_dir):
    """TURNING-POINTS randomness test per user: count strict local
    peaks and valleys in the value sequence ((x_i - x_{i-1}) and
    (x_i - x_{i+1}) share a sign; ties break neither way) and
    standardize against the i.i.d. expectation E[T] = 2(n-2)/3,
    Var[T] = (16n-29)/90 — the textbook nonparametric check for
    serial structure; |z| >> 0 means the sequence oscillates (z > 0)
    or trends/streaks (z < 0) more than chance. Complements
    `runs_test` (signs about the median) and `autocorr_lag1`.

    One lag + one lead window on exact cents, one hash agg; the
    moments are exact rationals of n. Users with n < 3 have no
    interior points and are excluded (documented)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    r = (
        e.select(
            "user_id",
            _us("ts").alias("us"),
            "event_id",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .withColumn("pv", F.lag("cents").over(w))
        .withColumn("nx", F.lead("cents").over(w))
        .withColumn(
            "is_turn",
            (
                F.col("pv").isNotNull()
                & F.col("nx").isNotNull()
                & (
                    (F.col("cents") - F.col("pv"))
                    * (F.col("cents") - F.col("nx"))
                    > 0
                )
            ).cast("bigint"),
        )
    )
    agg = r.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("is_turn").cast("bigint").alias("t_points"),
    ).where(F.col("n_events") >= 3)
    return agg.select(
        "user_id",
        "n_events",
        "t_points",
        F.round(
            F.expr("2.0 * CAST(n_events - 2 AS DOUBLE) / 3.0"), 6
        ).alias("expected_t"),
        F.round(
            F.expr(
                "(t_points - 2.0 * CAST(n_events - 2 AS DOUBLE) / 3.0)"
                " / sqrt((16.0 * CAST(n_events AS DOUBLE) - 29.0)"
                " / 90.0)"
            ),
            6,
        ).alias("z"),
    )


def q_char_bigram_entropy(spark, sf_dir):
    """CHARACTER-LEVEL CONDITIONAL ENTROPY per source: H(next char |
    prev char) from the corpus of character bigrams — the language-
    model-free compressibility fingerprint (natural English ~3.1-3.6
    bits; random strings -> log2|alphabet|; templated/repetitive
    text collapses toward 0). The identity H(c2|c1) = H(bigram) -
    H(first) means both entropies come from ONE bigram count table:
    sum(cf*log2 cf) over first-char counts minus sum(cp*log2 cp)
    over pair counts, all over N.

    The char fan-out is sequence(1, len-1) + substring — pure JVM
    codegen, ~len(text) rows per doc, exactly the shingle fan-out
    shape `udtf_shingles` uses. Counts stay exact BIGINTs; the only
    floats are the log2 terms of the final roll-up."""
    d = _t(spark, sf_dir, "documents")
    pairs = (
        d.select(
            "source",
            F.lower(F.col("text")).alias("low"),
        )
        .where(F.length("low") >= 2)
        .select(
            "source",
            F.explode(
                F.sequence(F.lit(1), F.length("low") - 1)
            ).alias("i"),
            "low",
        )
        .select(
            "source",
            F.expr("substring(low, i, 2)").alias("pair"),
        )
    )
    cp = pairs.groupBy("source", "pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per = cp.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_bigrams"),
        F.sum(F.expr("c * log2(CAST(c AS DOUBLE))")).alias("plg"),
    )
    cf = (
        cp.groupBy("source", F.expr("substring(pair, 1, 1)").alias("f"))
        .agg(F.sum("c").cast("bigint").alias("c"))
        .groupBy("source")
        .agg(F.sum(F.expr("c * log2(CAST(c AS DOUBLE))")).alias("flg"))
    )
    return per.join(cf, "source").select(
        "source",
        "n_bigrams",
        "vocab_bigrams",
        F.round(
            F.expr(
                "log2(CAST(n_bigrams AS DOUBLE)) - plg / n_bigrams"
            ),
            6,
        ).alias("h_pair"),
        F.round(F.expr("(flg - plg) / n_bigrams"), 6).alias("h_cond"),
    )


def q_silhouette_lite(spark, sf_dir):
    """CENTROID SILHOUETTE per label over the embeddings table: for
    each vector, a = distance to its OWN label centroid, b = distance
    to the NEAREST other centroid, silhouette = (b-a)/max(a,b) — the
    standard cluster-quality diagnostic in its O(N*L*D) centroid
    form (the exact silhouette's O(N^2) pair matrix is replaced by
    L broadcast centroids, which is the only form that scales: at
    100 TB the centroid table stays O(labels*dims) and ships with
    the task binaries while vectors stream through one pass).

    Dim explode -> per-(label,dim) mean -> broadcast join back ->
    one hash agg per (vec, candidate label) -> min/own split. All
    JVM; the FLOAT[] maths promotes to double at the explode."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("idx", "v"),
    ).withColumn("val", F.col("v").cast("double")).drop("v")
    cent = ex.groupBy(F.col("label").alias("clabel"), "idx").agg(
        F.avg("val").alias("cv")
    )
    d2 = (
        ex.join(F.broadcast(cent), "idx")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(
                (F.col("val") - F.col("cv")) * (F.col("val") - F.col("cv"))
            ).alias("d2")
        )
    )
    per = d2.groupBy("vec_id", "label").agg(
        F.sum(
            F.when(F.col("clabel") == F.col("label"), F.sqrt("d2"))
        ).alias("a"),
        F.min(
            F.when(F.col("clabel") != F.col("label"), F.sqrt("d2"))
        ).alias("b"),
    )
    return per.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.round(F.avg("a"), 6).alias("mean_intra"),
        F.round(F.avg("b"), 6).alias("mean_nearest"),
        F.round(
            F.avg(
                F.expr(
                    "CASE WHEN greatest(a, b) > 0"
                    " THEN (b - a) / greatest(a, b) ELSE 0.0 END"
                )
            ),
            6,
        ).alias("mean_silhouette"),
    )


def q_user_mix_kl(spark, sf_dir):
    """PER-USER KL DIVERGENCE of the event-type mix from the corpus
    mix: KL(user ‖ corpus) = sum_t (c_ut/n_u) * ln((c_ut/n_u) /
    (c_t/N)) in nats — the canonical 'how unusual is this user's
    behaviour profile?' feature (0 = perfectly typical mix; the
    per-user companion of the corpus-level `jsd_drift`). Types the
    user never emits contribute exactly 0, so no smoothing is
    needed and the sum runs only over the user's observed types.

    The corpus mix is O(|types|) rows, BROADCAST into the per-
    (user, type) count table; everything is exact BIGINT counts
    until the single log term per cell."""
    e = _t(spark, sf_dir, "events")
    ut = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_ut")
    )
    un = ut.groupBy("user_id").agg(
        F.sum("c_ut").cast("bigint").alias("n_u"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    gl = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_t")
    )
    n_all = gl.agg(F.sum("c_t").cast("bigint").alias("n_all"))
    cell = (
        ut.join(un, "user_id")
        .join(F.broadcast(gl), "event_type")
        .crossJoin(F.broadcast(n_all))
        .withColumn(
            "term",
            F.expr(
                "(CAST(c_ut AS DOUBLE) / n_u)"
                " * ln((CAST(c_ut AS DOUBLE) / n_u)"
                " / (CAST(c_t AS DOUBLE) / n_all))"
            ),
        )
    )
    return cell.groupBy("user_id").agg(
        F.max("n_u").alias("n_events"),
        F.max("n_types").alias("n_types"),
        F.round(F.sum("term"), 6).alias("kl_nats"),
    )


def q_median_ci(spark, sf_dir):
    """DISTRIBUTION-FREE 95% CONFIDENCE INTERVAL for the median via
    order statistics: the interval [x_(l), x_(u)] with l = max(1,
    floor((n - 1.96*sqrt(n))/2)) and u = n + 1 - l covers the true
    median with ~95% probability for ANY distribution (binomial
    argument — no normality, no bootstrap resampling). The honest
    error bar to put on every median KPI; rank picks are exact, so
    unlike a bootstrap the answer is deterministic and engine-
    portable.

    One row_number window per type on exact cents, the O(#types)
    rank table broadcast back, and three conditional-agg rank picks
    (lower rank, exact lower median, upper rank)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    r = e.select(
        "event_type",
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    ).withColumn("rn", F.row_number().over(w).cast("bigint"))
    ranks = (
        r.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .withColumn(
            "rank_lo",
            F.expr(
                "greatest(CAST(1 AS BIGINT),"
                " CAST(floor((n_events - 1.96 * sqrt(n_events)) / 2.0)"
                " AS BIGINT))"
            ),
        )
        .withColumn("rank_hi", F.expr("n_events + 1 - rank_lo"))
        .withColumn("rank_med", F.expr("(n_events + 1) div 2"))
    )
    j = r.join(F.broadcast(ranks), "event_type")
    return j.groupBy("event_type").agg(
        F.max("n_events").alias("n_events"),
        F.max("rank_lo").alias("rank_lo"),
        F.max("rank_hi").alias("rank_hi"),
        F.round(
            F.max(
                F.when(F.col("rn") == F.col("rank_lo"), F.col("cents"))
            )
            / 100.0,
            6,
        ).alias("ci_lo"),
        F.round(
            F.max(
                F.when(F.col("rn") == F.col("rank_med"), F.col("cents"))
            )
            / 100.0,
            6,
        ).alias("median"),
        F.round(
            F.max(
                F.when(F.col("rn") == F.col("rank_hi"), F.col("cents"))
            )
            / 100.0,
            6,
        ).alias("ci_hi"),
    )


def q_woe_iv(spark, sf_dir):
    """WEIGHT OF EVIDENCE + INFORMATION VALUE of the event value for
    predicting purchases — the credit-scoring feature-screening
    classic: bucket the value into global deciles, and per bucket
    compute WoE = ln((share of positives)/(share of negatives)) with
    +0.5 Laplace cell smoothing, plus the IV term (g/G - b/B)*WoE
    whose sum screens the feature (IV < 0.02 useless, > 0.3 strong).

    Decile edges come from ONE global percentile aggregate
    (O(9) values, broadcast); bucket assignment is a 9-row broadcast
    join counting strictly-exceeded edges — no global sort, no
    single-partition ntile. Counts stay exact BIGINTs; WoE/IV are
    the only floats."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        (F.col("event_type") == "purchase").cast("bigint").alias("pos"),
    )
    edges = base.agg(
        F.expr(
            "percentile(cents, array(0.1, 0.2, 0.3, 0.4, 0.5,"
            " 0.6, 0.7, 0.8, 0.9))"
        ).alias("arr")
    ).select(F.posexplode("arr").alias("k", "edge")).select("edge")
    bucketed = (
        base.groupBy("cents", "pos")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
        .crossJoin(F.broadcast(edges))
        .groupBy("cents", "pos", "m")
        .agg(
            F.sum((F.col("cents") > F.col("edge")).cast("bigint"))
            .cast("bigint")
            .alias("k")
        )
        .withColumn("bucket", (F.col("k") + 1).cast("bigint"))
    )
    per = bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("pos") == 1, F.col("m")).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("pos") == 0, F.col("m")).otherwise(0))
        .cast("bigint")
        .alias("n_neg"),
    )
    tot = per.agg(
        F.sum("n_pos").cast("bigint").alias("g"),
        F.sum("n_neg").cast("bigint").alias("b"),
    )
    j = per.crossJoin(F.broadcast(tot)).withColumn(
        "woe",
        F.expr(
            "ln(((CAST(n_pos AS DOUBLE) + 0.5) / g)"
            " / ((CAST(n_neg AS DOUBLE) + 0.5) / b))"
        ),
    )
    return j.select(
        "bucket",
        (F.col("n_pos") + F.col("n_neg")).cast("bigint").alias("n"),
        "n_pos",
        "n_neg",
        F.round("woe", 6).alias("woe"),
        F.round(
            F.expr(
                "(CAST(n_pos AS DOUBLE) / g - CAST(n_neg AS DOUBLE) / b)"
                " * woe"
            ),
            6,
        ).alias("iv_term"),
    )


def q_half_activity_day(spark, sf_dir):
    """ACTIVITY HALF-LIFE per user: the day (counted from the user's
    first event) by which HALF of their lifetime events had
    occurred, plus that point as a fraction of the active span — a
    front-loading fingerprint (0.0 = burned bright then quit, ~0.5 =
    steady, near 1.0 = late bloomer) that churn models read
    directly. The exact integer twin of a cumulative-activity
    quantile.

    Daily counts -> one cumulative window per user -> the first day
    where 2*cum >= total picked by a min over a conditional — all
    exact BIGINT day arithmetic; the only float is the final span
    fraction (NULL for single-day users, documented)."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select("user_id", F.to_date("ts").alias("day"))
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = Window.partitionBy("user_id").orderBy("day")
    cum = daily.withColumn(
        "cumc", F.sum("c").over(w).cast("bigint")
    ).withColumn(
        "tot",
        F.sum("c").over(Window.partitionBy("user_id")).cast("bigint"),
    )
    return (
        cum.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("c").cast("bigint").alias("total_events"),
            F.min("day").alias("d0"),
            F.max("day").alias("d1"),
            F.min(
                F.when(
                    F.lit(2) * F.col("cumc") >= F.col("tot"),
                    F.col("day"),
                )
            ).alias("dh"),
        )
        .select(
            "user_id",
            "n_days",
            "total_events",
            F.datediff("dh", "d0").cast("bigint").alias("days_to_half"),
            F.datediff("d1", "d0").cast("bigint").alias("span_days"),
            F.round(
                F.expr(
                    "CASE WHEN datediff(d1, d0) > 0 THEN"
                    " CAST(datediff(dh, d0) AS DOUBLE) / datediff(d1, d0)"
                    " END"
                ),
                6,
            ).alias("half_frac"),
        )
    )


def q_negbin_fit(spark, sf_dir):
    """NEGATIVE-BINOMIAL method-of-moments fit of daily event counts
    per type: r = mu^2/(V - mu), p = mu/V — the standard
    overdispersed-count model behind traffic simulation and anomaly
    thresholds (Poisson is the V = mu edge; the smaller r, the
    burstier). The parametric companion to `fano_factor` (which
    reports V/mu and stops): these are the numbers you plug back in
    to SAMPLE synthetic traffic. NULL fit when V <= mu (under/equi-
    dispersed — NB undefined), documented.

    Moments come from exact BIGINT count sums (n*S2 - S1^2)/n^2; the
    only floats are the two final parameter ratios."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    j = agg.withColumn(
        "mu", F.expr("CAST(s1 AS DOUBLE) / n_days")
    ).withColumn(
        "vv",
        F.expr(
            "(CAST(n_days AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
            " / (CAST(n_days AS DOUBLE) * n_days)"
        ),
    )
    return j.select(
        "event_type",
        "n_days",
        F.round("mu", 6).alias("mean_daily"),
        F.round("vv", 6).alias("var_daily"),
        F.round(
            F.expr("CASE WHEN vv > mu THEN mu * mu / (vv - mu) END"), 6
        ).alias("nb_r"),
        F.round(
            F.expr("CASE WHEN vv > mu THEN mu / vv END"), 6
        ).alias("nb_p"),
    )


def q_recency_score(spark, sf_dir):
    """EXPONENTIAL-DECAY RECENCY SCORE per user at the corpus
    snapshot (max timestamp): sum over the user's events of
    0.5^(age_days/7) — a 7-day-half-life activity mass, the
    recency-weighted engagement feature every ranking/churn model
    starts from (RFM's R and F fused into one decayed count).
    Integer day ages make the pow() argument exact, so both engines
    evaluate the same finite set of pow(0.5, k/7) values.

    The snapshot is a one-row broadcast; ages are exact integer-
    microsecond day quotients; one hash agg per user."""
    e = _t(spark, sf_dir, "events")
    base = e.select("user_id", _us("ts").alias("us"))
    snap = base.agg(F.max("us").alias("snap_us"))
    return (
        base.crossJoin(F.broadcast(snap))
        .withColumn(
            "age_days",
            F.expr("(snap_us - us) div 86400000000").cast("bigint"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("age_days").cast("bigint").alias("last_age_days"),
            F.round(
                F.sum(
                    F.expr("pow(0.5, CAST(age_days AS DOUBLE) / 7.0)")
                ),
                6,
            ).alias("recency_score"),
        )
    )


def q_wilson_lcb(spark, sf_dir):
    """WILSON LOWER CONFIDENCE BOUND ranking of sources by long-doc
    rate — the sample-size-aware way to rank proportions (the
    'sort by lower bound, not by raw rate' rule): a source that is
    3/3 long ranks BELOW one that is 80/100, because the 95% Wilson
    interval for n=3 reaches far lower. The ranking twin of
    `bh_fdr`'s testing view over the same 2-proportion table.

    LCB = (p + z²/2n − z·sqrt(p(1−p)/n + z²/4n²)) / (1 + z²/n) with
    z = 1.96, all evaluated in one expression on the O(#sources)
    post-aggregate; the rank window runs on that tiny table."""
    d = _t(spark, sf_dir, "documents")
    per = (
        d.select(
            "source",
            (F.col("n_chars") >= _BH_LONG).cast("bigint").alias("is_long"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("is_long").cast("bigint").alias("n_long"),
        )
        .withColumn("p_hat", F.expr("CAST(n_long AS DOUBLE) / n_docs"))
        .withColumn(
            "lcb",
            F.expr(
                "(p_hat + 1.96 * 1.96 / (2.0 * n_docs)"
                " - 1.96 * sqrt(p_hat * (1.0 - p_hat) / n_docs"
                " + 1.96 * 1.96 / (4.0 * CAST(n_docs AS DOUBLE)"
                " * n_docs)))"
                " / (1.0 + 1.96 * 1.96 / n_docs)"
            ),
        )
    )
    w = Window.orderBy(F.col("lcb").desc(), F.col("source"))
    return per.select(
        "source",
        "n_docs",
        "n_long",
        F.round("p_hat", 6).alias("p_hat"),
        F.round("lcb", 6).alias("wilson_lcb"),
        F.row_number().over(w).cast("bigint").alias("lcb_rank"),
    )


def q_odds_ratio(spark, sf_dir):
    """ODDS RATIO of long-doc prevalence per source vs the REST of
    the corpus, with the Woolf logit 95% CI and Haldane–Anscombe
    +0.5 continuity correction in every cell — the epidemiology
    2x2-table statistic (how much MORE likely is a long doc from
    this source?), multiplicative where `bh_fdr`'s z is additive,
    and CI-equipped where `wilson_lcb` is one-sided.

    The 2x2 cells (a,b) per source and (c,d) as corpus complements
    come from one aggregate plus one broadcast total row; OR, ln OR
    and the CI are closed-form doubles on the O(#sources) table."""
    d = _t(spark, sf_dir, "documents")
    per = (
        d.select(
            "source",
            (F.col("n_chars") >= _BH_LONG).cast("bigint").alias("is_long"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("is_long").cast("bigint").alias("a"),
        )
        .withColumn("b", F.expr("n_docs - a"))
    )
    tot = per.agg(
        F.sum("a").cast("bigint").alias("ta"),
        F.sum("b").cast("bigint").alias("tb"),
    )
    j = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("c", F.expr("ta - a"))
        .withColumn("d", F.expr("tb - b"))
        .withColumn(
            "lor",
            F.expr(
                "ln(((CAST(a AS DOUBLE) + 0.5) * (CAST(d AS DOUBLE)"
                " + 0.5)) / ((CAST(b AS DOUBLE) + 0.5)"
                " * (CAST(c AS DOUBLE) + 0.5)))"
            ),
        )
        .withColumn(
            "se",
            F.expr(
                "sqrt(1.0 / (CAST(a AS DOUBLE) + 0.5)"
                " + 1.0 / (CAST(b AS DOUBLE) + 0.5)"
                " + 1.0 / (CAST(c AS DOUBLE) + 0.5)"
                " + 1.0 / (CAST(d AS DOUBLE) + 0.5))"
            ),
        )
    )
    return j.select(
        "source",
        "a",
        "b",
        "c",
        "d",
        F.round(F.expr("exp(lor)"), 6).alias("odds_ratio"),
        F.round(F.expr("exp(lor - 1.96 * se)"), 6).alias("or_ci_lo"),
        F.round(F.expr("exp(lor + 1.96 * se)"), 6).alias("or_ci_hi"),
    )


def q_value_mode(spark, sf_dir):
    """EXACT MODE of the value distribution per event type — the
    most frequent cent-exact value, its count, and its share of the
    type's traffic. The mode is the one classic location statistic
    SQL has no aggregate for at scale (a global sort won't do it);
    here it is one (type, cents) count table plus a row_number pick
    with a deterministic count-desc/value-asc tie-break.

    All exact BIGINTs until the final share ratio."""
    e = _t(spark, sf_dir, "events")
    vc = (
        e.select(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("c").desc(), F.col("cents")
    )
    tot = vc.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    top = vc.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    return top.join(tot, "event_type").select(
        "event_type",
        "n_events",
        "n_distinct",
        F.round(F.col("cents") / 100.0, 6).alias("mode_value"),
        F.col("c").alias("mode_count"),
        F.round(
            F.col("c").cast("double") / F.col("n_events").cast("double"),
            6,
        ).alias("mode_share"),
    )


def q_bowley_moors(spark, sf_dir):
    """BOWLEY SKEWNESS + MOORS KURTOSIS per event type — the
    quantile-based shape statistics: Bowley = (E6 + E2 − 2·E4) /
    (E6 − E2) on quartiles, Moors = ((E7−E5) + (E3−E1)) / (E6−E2)
    on octiles. Robust where `gini_skew`'s moment cousins explode on
    heavy tails (every term is an order statistic, so one wild
    outlier moves nothing). Moors ≈ 1.233 for a normal; higher =
    fatter tails.

    One percentile-array aggregate per type (octiles E1..E7 in a
    single pass over exact cents), shape ratios NULL-guarded when
    the IQR is zero."""
    e = _t(spark, sf_dir, "events")
    agg = (
        e.select(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.expr(
                "percentile(cents, array(0.125, 0.25, 0.375, 0.5,"
                " 0.625, 0.75, 0.875))"
            ).alias("e"),
        )
        .select(
            "event_type",
            "n_events",
            F.expr("e[0]").alias("e1"),
            F.expr("e[1]").alias("e2"),
            F.expr("e[2]").alias("e3"),
            F.expr("e[3]").alias("e4"),
            F.expr("e[4]").alias("e5"),
            F.expr("e[5]").alias("e6"),
            F.expr("e[6]").alias("e7"),
        )
    )
    return agg.select(
        "event_type",
        "n_events",
        F.round(F.expr("e2 / 100.0"), 6).alias("q1"),
        F.round(F.expr("e4 / 100.0"), 6).alias("median"),
        F.round(F.expr("e6 / 100.0"), 6).alias("q3"),
        F.round(
            F.expr(
                "CASE WHEN e6 - e2 > 0"
                " THEN (e6 + e2 - 2.0 * e4) / (e6 - e2) END"
            ),
            6,
        ).alias("bowley_skew"),
        F.round(
            F.expr(
                "CASE WHEN e6 - e2 > 0"
                " THEN ((e7 - e5) + (e3 - e1)) / (e6 - e2) END"
            ),
            6,
        ).alias("moors_kurt"),
    )


_TPP_K = 20


def q_term_position_profile(spark, sf_dir):
    """TERM POSITION PROFILE: for each of the corpus top-20 tokens,
    the mean RELATIVE position of its occurrences within documents
    (1/len = first word, 1.0 = last word) — discourse-structure
    mining: function words sit uniformly (~0.5), intro markers skew
    early, conclusion markers late. A positional signal no bag-of-
    words count captures.

    One positional explode (the `explode_tokens` fan-out with
    posexplode), one broadcast top-K join (top-K via the grouped
    vocab count, count-desc/token-asc deterministic), exact
    occurrence counts + one rational mean per token."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), "\\s+")
    ex = (
        d.select(
            "doc_id",
            F.posexplode(toks).alias("pos0", "token"),
            F.size(toks).cast("bigint").alias("len"),
        )
        .where(F.col("token") != "")
    )
    top = (
        ex.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("total_count"))
        .orderBy(F.col("total_count").desc(), F.col("token"))
        .limit(_TPP_K)
    )
    j = ex.join(F.broadcast(top), "token")
    return j.groupBy("token").agg(
        F.max("total_count").alias("total_count"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.round(
            F.avg(
                F.expr("CAST(pos0 + 1 AS DOUBLE) / len")
            ),
            6,
        ).alias("mean_rel_pos"),
    )


def q_longest_event_run(spark, sf_dir):
    """LONGEST SAME-TYPE RUN per user: the maximal streak of
    consecutive events of one type (plus which type and how many
    runs total) — the user-sequence repetition fingerprint
    (click-click-click-... bursts; retry storms show up as long
    'error' runs). The event-sequence cousin of the gaps-and-islands
    `streak_lengths` (days) and token-level `longest_token_run`.

    Classic two-window plan: a lag change-flag, a running sum that
    numbers the runs, then run-length counts and one deterministic
    (len desc, first-run asc) row_number pick per user."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    r = (
        e.select(
            "user_id", _us("ts").alias("us"), "event_id", "event_type"
        )
        .withColumn(
            "chg",
            F.when(
                F.lag("event_type").over(w).isNull()
                | (F.lag("event_type").over(w) != F.col("event_type")),
                1,
            )
            .otherwise(0)
            .cast("bigint"),
        )
        .withColumn(
            "run_id",
            F.sum("chg")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("bigint"),
        )
    )
    runs = r.groupBy("user_id", "run_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_len")
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("run_len").desc(), F.col("run_id")
    )
    stats = runs.groupBy("user_id").agg(
        F.sum("run_len").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
    )
    best = runs.withColumn("rn", F.row_number().over(wr)).where(
        F.col("rn") == 1
    )
    return best.join(stats, "user_id").select(
        "user_id",
        "n_events",
        "n_runs",
        F.col("run_len").alias("max_run_len"),
        F.col("event_type").alias("max_run_type"),
    )
