"""Property-based tests (hypothesis): scalar functions vs Python reference
semantics, operator invariants on random frames.

Each example generates a *batch* of inputs evaluated in one Spark job, so
hypothesis exploration doesn't multiply Spark overhead.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from python_etl_mailing_automation_spark.functions import (
    clean_phone_number,
    format_money_br,
    format_money_robot,
    safe_to_double,
)
from python_etl_mailing_automation_spark.operators import (
    dedup_keep_best,
    segment_by_cutoff,
    with_priority_level,
)

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def ref_clean_phone(v: str | None) -> str | None:
    """Reference semantics of F2 (processing_pipeline.py:27-31)."""
    if v is None:
        return None
    s = re.sub(r"\.0$", "", str(v))
    s = re.sub(r"\D", "", s)
    return s or None


messy_strings = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        max_size=20,
    ),
    st.from_regex(r"\(?[0-9]{2}\)? ?9?[0-9]{4}-?[0-9]{4}(\.0)?", fullmatch=True),
    st.integers(-(10**12), 10**12).map(str),
)


@given(st.lists(messy_strings, min_size=1, max_size=40))
@SETTINGS
def test_clean_phone_matches_reference(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = [r["r"] for r in df.select(clean_phone_number("v").alias("r")).collect()]
    assert got == [ref_clean_phone(v) for v in values]


br_numbers = st.one_of(
    st.decimals(
        min_value=-(10**8), max_value=10**8, places=2, allow_nan=False, allow_infinity=False
    ).map(lambda d: str(d).replace(".", ",")),
    st.text(alphabet="0123456789,.abc-", max_size=12),
    st.none(),
)


def ref_safe_to_double(v: str | None) -> float | None:
    if v is None:
        return None
    s = str(v)
    if "," in s:
        s = s.replace(".", "").replace(",", ".")
    try:
        return float(s)
    except ValueError:
        return None


@given(st.lists(br_numbers, min_size=1, max_size=40))
@SETTINGS
def test_safe_to_double_matches_reference(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = [r["r"] for r in df.select(safe_to_double("v").alias("r")).collect()]
    for g, v in zip(got, values):
        expected = ref_safe_to_double(v)
        if expected is None or g is None:
            # try_cast accepts a few shapes float() rejects (e.g. leading +)
            # and vice versa only for inf/nan words; on this alphabet both
            # agree on null-ness.
            assert g == expected
        else:
            assert g == expected


@given(
    st.lists(
        st.floats(
            min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=30,
    )
)
@SETTINGS
def test_money_format_properties(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v double")
    rows = df.select(
        "v",
        format_money_br("v").alias("h"),
        format_money_robot("v").alias("r"),
    ).collect()
    for row in rows:
        # human: always exactly 2 comma-decimals; parses back to round(v, 2)
        assert re.fullmatch(r"-?[0-9]+,[0-9]{2}", row["h"])
        assert abs(float(row["h"].replace(",", ".")) - row["v"]) <= 0.005 + 1e-9
        # robot: integral values have no decimals, others match human
        if row["v"] == int(row["v"]):
            assert "," not in row["r"]
        else:
            assert row["r"] == row["h"]


@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100), st.integers(0, 10**6)),
        min_size=1,
        max_size=50,
    )
)
@SETTINGS
def test_dedup_idempotent_and_unique(spark, rows):
    df = spark.createDataFrame(
        [(f"k{k}", v, rid) for k, v, rid in rows], "k string, v int, rid int"
    )
    once = dedup_keep_best(df, "k", [F.col("v").desc()], tiebreaker="rid")
    twice = dedup_keep_best(once, "k", [F.col("v").desc()], tiebreaker="rid")
    got_once = sorted((r["k"], r["v"], r["rid"]) for r in once.collect())
    got_twice = sorted((r["k"], r["v"], r["rid"]) for r in twice.collect())
    assert got_once == got_twice                      # idempotent
    keys = [t[0] for t in got_once]
    assert len(keys) == len(set(keys))                # unique per key
    # keeps max v per key (tie -> smallest rid)
    import collections

    best: dict = {}
    for k, v, rid in rows:
        cur = best.get(f"k{k}")
        cand = (-v, rid)
        if cur is None or cand < cur:
            best[f"k{k}"] = cand
    assert {(k, -nv, rid) for k, (nv, rid) in best.items()} == set(got_once)


@given(
    st.lists(st.floats(0, 1000, allow_nan=False), min_size=1, max_size=40),
    st.floats(0, 1000, allow_nan=False),
)
@SETTINGS
def test_segmentation_partition_property(spark, values, cutoff):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, v double")
    human, robot = segment_by_cutoff(df, "v", cutoff)
    h = {r["i"] for r in human.collect()}
    r_ = {r["i"] for r in robot.collect()}
    if cutoff == 0:
        assert h == r_ == set(range(len(values)))     # both full copies
    else:
        assert h | r_ == set(range(len(values)))
        assert h & r_ == set()


@given(
    st.lists(
        st.tuples(st.sampled_from(["A", "B", "C", "zz"]), st.sampled_from(["A", "B", "x"])),
        min_size=1,
        max_size=40,
    )
)
@SETTINGS
def test_priority_level_bounds_and_last_match(spark, rows):
    order = ["A", "B", "C"]
    df = spark.createDataFrame(rows, "c1 string, c2 string")
    got = with_priority_level(df, ["c1", "c2"], order).collect()
    for row in got:
        matches = [i for i, s in enumerate(order) if s in (row["c1"], row["c2"])]
        expected = matches[-1] if matches else len(order)
        assert row["priority_level"] == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # quality bucket (few -> collisions)
            st.integers(min_value=1, max_value=50),  # token count
        ),
        min_size=1,
        max_size=40,
    ),
    budget=st.integers(min_value=0, max_value=600),
)
@SETTINGS
def test_budget_select_equals_global_order(spark, rows, budget):
    """The two-pass budget_select (bucket aggregate + boundary window)
    must keep EXACTLY the rows of the one-pass definition: global order
    by (bucket desc, id asc), keep while inclusive cumsum <= budget."""
    from python_etl_mailing_automation_spark.datapipe.sampling import budget_select

    data = [(i, b, t) for i, (b, t) in enumerate(rows)]
    df = spark.createDataFrame(data, ["doc_id", "quality_bucket", "n_tokens"])
    got = {r.doc_id for r in budget_select(df, budget).collect()}

    expect = set()
    cum = 0
    for i, b, t in sorted(data, key=lambda r: (-r[1], r[0])):
        cum += t
        if cum <= budget:
            expect.add(i)
    assert got == expect


@given(
    events=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),  # (key, minute)
        min_size=1,
        max_size=25,
    ),
    intervals=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(0, 40)),
        min_size=1,
        max_size=8,
    ),
    granularity_min=st.sampled_from([1, 7, 60]),
)
@SETTINGS
def test_interval_join_equals_naive_between(spark, events, intervals, granularity_min):
    """Bin-based interval_join must return exactly the pairs of the naive
    O(L*R) BETWEEN definition for any granularity."""
    from python_etl_mailing_automation_spark.operators.asof import interval_join

    left = spark.createDataFrame(
        [(i, k, m) for i, (k, m) in enumerate(events)], ["eid", "k", "m"]
    ).select(
        "eid", "k", F.timestamp_seconds(F.col("m") * 60).alias("ts")
    )
    right = spark.createDataFrame(
        [(j, k, s, s + d) for j, (k, s, d) in enumerate(intervals)],
        ["iid", "k", "s", "e"],
    ).select(
        "iid",
        "k",
        F.timestamp_seconds(F.col("s") * 60).alias("start_ts"),
        F.timestamp_seconds(F.col("e") * 60).alias("end_ts"),
    )
    got = {
        (r.eid, r.iid)
        for r in interval_join(
            left, right, on=["k"], granularity_s=granularity_min * 60
        ).collect()
    }
    expect = {
        (i, j)
        for i, (k, m) in enumerate(events)
        for j, (rk, s, d) in enumerate(intervals)
        if k == rk and s <= m <= s + d
    }
    assert got == expect


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),  # token count per doc
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(min_value=2, max_value=12),  # chunk_tokens
    st.integers(min_value=0, max_value=6),   # overlap (< chunk_tokens enforced)
)
@SETTINGS
def test_chunk_documents_covers_every_token_exactly(spark, docs, chunk_tokens, overlap):
    """Chunk-grid invariants for any (doc length, chunk size, overlap):
    starts form the exact stride grid below n, consecutive chunks overlap
    by exactly `overlap` tokens (except a shorter tail), and every token
    index is covered by at least one chunk."""
    from python_etl_mailing_automation_spark.datapipe.text import chunk_documents

    overlap = min(overlap, chunk_tokens - 1)
    stride = chunk_tokens - overlap
    rows = [
        (i, " ".join(f"t{j}" for j in range(n[0])))
        for i, n in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunk_documents(
        df, chunk_tokens=chunk_tokens, overlap=overlap
    ).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, (n,) in enumerate(docs):
        # the "" -> [""] tokenizer convention: an empty doc has one token
        n_eff = max(n, 1)
        chunks = sorted(by_doc[i], key=lambda r: r["chunk_idx"])
        starts = [r["chunk_start"] for r in chunks]
        assert starts == list(range(0, n_eff, stride))
        covered = set()
        for r in chunks:
            assert r["n_chunk_tokens"] == min(chunk_tokens, n_eff - r["chunk_start"])
            covered.update(
                range(r["chunk_start"], r["chunk_start"] + r["n_chunk_tokens"])
            )
        assert covered == set(range(n_eff))


def ref_simhash64(text: str) -> int:
    """Independent python reference of with_simhash64."""
    import hashlib

    votes = [0] * 64
    for t in re.split(r"\s+", text.strip()):
        h = hashlib.md5(t.encode()).hexdigest()
        v = (int(h[0:8], 16) << 32) | int(h[8:16], 16)
        for k in range(64):
            votes[k] += 1 if (v >> k) & 1 else -1
    fp = sum(1 << k for k in range(64) if votes[k] >= 0)
    return fp - 2**64 if fp >= 2**63 else fp


@given(
    st.lists(
        st.lists(
            st.text(alphabet=st.characters(codec="utf-8", exclude_categories=("Cs", "Zs", "Cc")), min_size=1, max_size=8),
            min_size=1,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=20,
    )
)
@SETTINGS
def test_simhash64_matches_reference_on_random_texts(spark, texts):
    from python_etl_mailing_automation_spark.datapipe.dedup import with_simhash64

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["simhash64"] for r in with_simhash64(df).collect()}
    for i, t in enumerate(texts):
        assert got[i] == ref_simhash64(t)


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda p: p[0] != p[1]),
        min_size=0,
        max_size=40,
    )
)
@SETTINGS
def test_star_cc_equals_propagation_on_random_graphs(spark, edges):
    """Both CC implementations must agree with a python union-find on
    arbitrary random graphs (not just the chain/clique fixtures)."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        dedup_clusters,
        dedup_clusters_star,
    )

    docs = spark.createDataFrame([(i,) for i in range(31)], "doc_id long")
    pairs = spark.createDataFrame(
        edges or [(0, 0)], "doc_id_a long, doc_id_b long"
    )
    if not edges:
        pairs = pairs.filter("doc_id_a != doc_id_b")  # empty edge set

    parent = list(range(31))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {i: find(i) for i in range(31)}

    star = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters_star(docs, pairs).collect()}
    prop = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs, pairs, max_iterations=100).collect()}
    assert star == expect
    assert prop == expect


@given(
    st.lists(
        st.text(alphabet="ab", min_size=0, max_size=5), min_size=1, max_size=12
    ),
    st.lists(
        st.text(alphabet="ab", min_size=0, max_size=5), min_size=1, max_size=12
    ),
)
@SETTINGS
def test_fuzzy_join_edit_equals_brute_force(spark, ls, rs):
    """Deletion-neighborhood candidates lose no true pair: the operator's
    output equals the brute-force all-pairs levenshtein filter on random
    short strings over a tiny alphabet (dense edit-distance collisions)."""
    from python_etl_mailing_automation_spark.operators.linkage import (
        fuzzy_join_edit,
    )

    def lev(a: str, b: str) -> int:
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    left = spark.createDataFrame(
        [(i, s) for i, s in enumerate(ls)], "lid int, lname string"
    )
    right = spark.createDataFrame(
        [(i, s) for i, s in enumerate(rs)], "rid int, rname string"
    )
    for d in (1, 2):
        got = {
            (r.lid, r.rid, r.dist)
            for r in fuzzy_join_edit(
                left, right, left_id="lid", right_id="rid",
                left_col="lname", right_col="rname", max_dist=d,
            ).collect()
        }
        want = {
            (i, j, lev(a, b))
            for i, a in enumerate(ls)
            for j, b in enumerate(rs)
            if lev(a, b) <= d
        }
        assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 500), st.integers(0, 3)),
        min_size=1,
        max_size=40,
    )
)
@SETTINGS
def test_debounce_idempotent_and_spaced(spark, rows):
    """Debounce is a fixpoint: every kept event is > gap after its
    predecessor EVENT, so kept events are pairwise > gap apart and a
    second debounce pass keeps them all."""
    from python_etl_mailing_automation_spark.operators.aggregates import (
        debounce_events,
    )

    df = spark.createDataFrame(
        [
            (i, k, f"2024-01-01 00:{s // 60:02d}:{s % 60:02d}.{v:03d}")
            for i, (k, s, v) in enumerate(rows)
        ],
        ["event_id", "k", "ts_s"],
    ).select(
        "event_id", "k", F.to_timestamp("ts_s").alias("ts")
    )
    once = debounce_events(
        df, key_cols=["k"], gap_s=30, tiebreak_col="event_id"
    )
    twice = debounce_events(
        once, key_cols=["k"], gap_s=30, tiebreak_col="event_id"
    )
    got_once = sorted(r.event_id for r in once.collect())
    assert got_once == sorted(r.event_id for r in twice.collect())
    # pairwise spacing within each key
    per_key: dict = {}
    for r in once.collect():
        per_key.setdefault(r.k, []).append(r.ts)
    for ts_list in per_key.values():
        ts_list.sort()
        for a, b in zip(ts_list, ts_list[1:]):
            assert (b - a).total_seconds() > 30


@given(
    st.lists(
        st.tuples(st.integers(0, 8), st.text("ab", max_size=3),
                  st.one_of(st.none(), st.integers(0, 5))),
        min_size=1, max_size=25,
    ),
    st.lists(
        st.tuples(st.integers(0, 8), st.text("ab", max_size=3),
                  st.one_of(st.none(), st.integers(0, 5))),
        min_size=0, max_size=25,
    ),
)
@SETTINGS
def test_upsert_latest_idempotent(spark, base_rows, upd_rows):
    """Merging the same CDC batch twice is a no-op (SCD-1 fixpoint)."""
    from python_etl_mailing_automation_spark.operators.dedup import (
        upsert_latest,
    )

    # one row per key per side (frames are snapshots/batches)
    base_rows = list({k: (k, p, v) for k, p, v in base_rows}.values())
    upd_rows = list({k: (k, p, v) for k, p, v in upd_rows}.values())
    base = spark.createDataFrame(base_rows, "k int, p string, version int")
    upd = spark.createDataFrame(
        upd_rows, "k int, p string, version int"
    ) if upd_rows else spark.createDataFrame([], "k int, p string, version int")
    once = upsert_latest(base, upd, key="k", version_col="version")
    twice = upsert_latest(once, upd, key="k", version_col="version")
    canon = lambda df: sorted((r.k, r.p, r.version) for r in df.collect())
    assert canon(once) == canon(twice)


url_parts = st.tuples(
    st.sampled_from(["", "http://", "HTTPS://", "https://www.", "HtTp://WWW."]),
    st.from_regex(r"[A-Za-z0-9-]{1,10}\.(com|org|NET)", fullmatch=True),
    st.from_regex(r"(/[A-Za-z0-9._~-]{0,8}){0,3}/?", fullmatch=True),
    st.sampled_from(
        [
            "",
            "?utm_source=a",
            "?id=7",
            "?id=7&utm_medium=b&x=1",
            "#frag",
            "?utm_campaign=c#f",
            # two consecutive LEADING tracking params: the case that
            # caught the ?&-before-&& collapse-order bug in review
            "?utm_source=a&utm_medium=b&x=1",
            "?utm_source=a&gclid=z",
            # substring hazards: href= must NOT lose its ref= suffix,
            # path /ref= segments must survive
            "?href=abc",
            "/ref=sr_1_1?x=2",
        ]
    ),
)


@given(st.lists(url_parts, min_size=1, max_size=25))
@SETTINGS
def test_url_canonical_idempotent_and_scheme_insensitive(spark, parts):
    from python_etl_mailing_automation_spark.datapipe.web import url_canonical

    urls = ["".join(p) for p in parts]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], ["i", "url"]
    )
    out = df.select(
        "i",
        url_canonical("url").alias("c1"),
        url_canonical(url_canonical("url")).alias("c2"),
    ).collect()
    for r in out:
        # idempotent: canonicalizing a canonical URL is the identity
        assert r.c1 == r.c2, (urls[r.i], r.c1, r.c2)
        # no scheme / www / fragment / tracking survives
        assert "://" not in r.c1 and "#" not in r.c1
        assert not r.c1.startswith("www.") and "utm_" not in r.c1


@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=200, unique=True))
@SETTINGS
def test_dataset_split_total_partition(spark, ids):
    from python_etl_mailing_automation_spark.datapipe.sampling import dataset_split

    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    out = dataset_split(df).collect()
    assert len(out) == len(ids)
    assert all(r.split in ("train", "val", "test") for r in out)
    # id-stable under subsetting: splitting half the ids gives the same labels
    half_ids = ids[: len(ids) // 2] or ids
    half = {r.doc_id: r.split for r in dataset_split(
        spark.createDataFrame([(i,) for i in half_ids], ["doc_id"])).collect()}
    full = {r.doc_id: r.split for r in out}
    assert all(full[i] == half[i] for i in half_ids)


@given(st.lists(st.from_regex(r"([a-d]{1,3} ){1,12}[a-d]{1,3}", fullmatch=True), min_size=1, max_size=20))
@SETTINGS
def test_posting_lists_df_sums_to_distinct_pairs(spark, texts):
    from python_etl_mailing_automation_spark.datapipe.text import posting_lists

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    out = posting_lists(df, min_df=1).collect()
    n_pairs = sum(r.df for r in out)
    expect = len({(i, w) for i, t in enumerate(texts) for w in t.split()})
    assert n_pairs == expect
    for r in out:
        ids = r.postings.split(",")
        assert len(ids) == r.df and ids == sorted(ids, key=int)
        assert r.total_tf >= r.df


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=24), min_size=1, max_size=8
    ),
    n_merges=st.integers(min_value=1, max_value=3),
)
@SETTINGS
def test_bpe_train_matches_pure_python_reference(spark, texts, n_merges):
    """The engine's fold-based BPE (Catalyst aggregate) must equal a
    pure-Python textbook implementation (Sennrich et al. 2016 counting
    + greedy leftmost merge), including tie-breaks."""
    from collections import Counter

    from python_etl_mailing_automation_spark.datapipe.tokenizer import bpe_train

    freqs = Counter(w for t in texts for w in t.split() if w)
    seqs = {w: list(w) for w in freqs}
    expected = []
    for rank in range(1, n_merges + 1):
        pairs = Counter()
        for w, syms in seqs.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += freqs[w]
        if not pairs:
            break
        (lhs, rhs), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((rank, lhs, rhs, cnt))
        for w, syms in seqs.items():
            out = []
            for x in syms:
                if out and out[-1] == lhs and x == rhs:
                    out[-1] = lhs + rhs
                else:
                    out.append(x)
            seqs[w] = out

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r.rank, r.lhs, r.rhs, r.pair_count)
        for r in bpe_train(df, "text", n_merges=n_merges)
        .orderBy("rank")
        .collect()
    ]
    assert got == expected


@given(
    vals=st.lists(st.integers(min_value=0, max_value=10**12),
                  min_size=1, max_size=60),
    q=st.tuples(st.integers(1, 99), st.just(100)),
)
@SETTINGS
def test_loghist_quantile_brackets_true_quantile(spark, vals, q):
    """The sketch's [est_lo, est_hi] must bracket the exact ceil-rank
    quantile (the value at 1-based rank ceil(q·n) in sorted order) —
    the 2x-error contract, on random value sets."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        loghist_build,
        loghist_quantiles,
    )

    num, den = q
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    sk = loghist_build(df, "v")
    row = loghist_quantiles(sk, [(num, den)]).collect()[0]
    true_q = sorted(vals)[(len(vals) * num + den - 1) // den - 1]
    assert row.est_lo <= true_q <= row.est_hi


@given(
    members=st.sets(st.integers(0, 10**6), min_size=0, max_size=40),
    probes=st.sets(st.integers(0, 10**6), min_size=1, max_size=40),
)
@SETTINGS
def test_bloom_and_cms_over_report_only(spark, members, probes):
    """Sketch safety contracts on random sets: Bloom never misses a
    member; Count-Min never undercounts; absent values estimate >= 0."""
    from collections import Counter

    from python_etl_mailing_automation_spark.datapipe.sketches import (
        bloom_build,
        bloom_probe,
        cms_build,
        cms_estimate,
    )

    mdf = spark.createDataFrame([(v,) for v in members] or [(None,)], "v long")
    pdf = spark.createDataFrame([(v,) for v in probes], "v long")
    bloom = bloom_build(mdf, "v", m_bits=1024, k_hashes=3)
    res = bloom_probe(pdf, "v", bloom, m_bits=1024, k_hashes=3).collect()
    for r in res:
        if r.v in members:
            assert r.maybe_member is True

    truth = Counter(members)
    cms = cms_build(mdf, "v", width=64, depth=3)
    for r in cms_estimate(pdf, "v", cms, width=64, depth=3).collect():
        assert r.est_cnt >= truth[r.v]


@given(
    edges=st.sets(
        st.tuples(st.integers(0, 8), st.integers(0, 8)), min_size=1, max_size=20
    ).map(lambda s: [(a, b) for a, b in s if a != b]),
)
@SETTINGS
def test_pagerank_matches_grid_reference(spark, edges):
    """Fixed-iteration PageRank must equal a pure-Python reference
    running the identical 2^-40 grid arithmetic on random digraphs."""
    import math

    from python_etl_mailing_automation_spark.datapipe.graph import pagerank

    if not edges:
        return
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r.node: r.pr for r in pagerank(df, n_iter=2).collect()}

    es = sorted(set(edges))
    nodes = sorted({a for a, _ in es} | {b for _, b in es})
    n = len(nodes)
    deg = {}
    for a, _ in es:
        deg[a] = deg.get(a, 0) + 1
    base = (1.0 - 0.85) / float(n)
    pr = {v: 1.0 / float(n) for v in nodes}
    for _ in range(2):
        s = {v: 0 for v in nodes}
        for a, b in es:
            s[b] += math.floor(pr[a] / float(deg[a]) * 2.0**40)
        pr = {
            v: base + 0.85 * (float(s[v]) / 2.0**40) for v in nodes
        }
    assert set(got) == set(pr)
    for v in nodes:
        assert got[v] == pr[v], (v, got[v], pr[v])


@given(
    texts=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=16),
        min_size=2,
        max_size=10,
    ),
    thr=st.sampled_from([(1, 2), (2, 3), (4, 5)]),
)
@SETTINGS
def test_jaccard_join_exact_complete_on_random_corpora(spark, texts, thr):
    """The prefix-filter join's completeness guarantee (no false
    negatives) and exactness, against brute-force all-pairs on random
    corpora — the property the LSH paths deliberately trade away."""
    from itertools import combinations

    from python_etl_mailing_automation_spark.datapipe.ssjoin import (
        jaccard_join_exact,
    )

    num, den = thr
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    got = {
        (r.id_a, r.id_b): r.inter
        for r in jaccard_join_exact(
            df, "id", "text", threshold=thr
        ).collect()
    }
    sets = {i: set(t.split()) for i, t in enumerate(texts) if t.split()}
    exp = {}
    for x, y in combinations(sorted(sets), 2):
        inter = len(sets[x] & sets[y])
        union = len(sets[x] | sets[y])
        if den * inter >= num * union:
            exp[(x, y)] = inter
    assert got == exp


@given(
    texts=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=16),
        min_size=2,
        max_size=10,
    ),
    thr=st.sampled_from([(1, 2), (3, 4), (1, 1)]),
)
@SETTINGS
def test_containment_join_complete_on_random_corpora(spark, texts, thr):
    """The one-sided prefix prune never loses a containment pair:
    brute-force |A∩B|/|A| >= t over all ORDERED pairs on random
    corpora equals the operator's output exactly."""
    from itertools import permutations

    from python_etl_mailing_automation_spark.datapipe.ssjoin import (
        containment_join_exact,
    )

    num, den = thr
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    got = {
        (r.id_a, r.id_b): r.inter
        for r in containment_join_exact(
            df, "id", "text", threshold=thr
        ).collect()
    }
    sets = {i: set(t.split()) for i, t in enumerate(texts) if t.split()}
    exp = {}
    for x, y in permutations(sorted(sets), 2):
        inter = len(sets[x] & sets[y])
        if den * inter >= num * len(sets[x]):
            exp[(x, y)] = inter
    assert got == exp


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g", "h"]),
            st.floats(min_value=-100, max_value=100, allow_nan=False),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=1,
        max_size=40,
    )
)
@SETTINGS
def test_skyline_dominance_property(spark, rows):
    """No returned point is dominated; every dropped point is dominated
    by some returned point — together: exactly the Pareto frontier."""
    from python_etl_mailing_automation_spark.datapipe.frontier import skyline_2d

    df = spark.createDataFrame(rows, "k string, a double, b int")
    sky = {
        (r.k, r.a, r.b)
        for r in skyline_2d(df, "a", "b", key_col="k").collect()
    }
    pts = set(rows)

    def dominated(p, by):
        (k1, a1, b1), (k2, a2, b2) = p, by
        return k1 == k2 and a2 <= a1 and b2 >= b1 and (a2 < a1 or b2 > b1)

    for p in pts:
        is_dom = any(dominated(p, q) for q in pts)
        assert (p not in sky) == is_dom, (p, is_dom)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 30), st.integers(-20, 20)),
        min_size=1,
        max_size=40,
    ),
    delta=st.integers(min_value=1, max_value=7),
)
@SETTINGS
def test_band_join_complete_and_sound(spark, rows, delta):
    from python_etl_mailing_automation_spark.operators.joins import band_join_self
    import itertools

    uniq = {i: v for i, v in rows}.items()  # unique ids
    df = spark.createDataFrame(
        [(i, v) for i, v in uniq], "id long, v long"
    )
    got = {
        (r.id_a, r.id_b, r.gap)
        for r in band_join_self(df, "id", "v", delta=delta).collect()
    }
    expect = {
        (min(i1, i2), max(i1, i2), abs(v1 - v2))
        for (i1, v1), (i2, v2) in itertools.combinations(uniq, 2)
        if abs(v1 - v2) <= delta
    }
    assert got == expect


@given(vals=st.lists(st.integers(0, 25), min_size=1, max_size=40))
@SETTINGS
def test_islands_partition_and_reconstruction(spark, vals):
    """Islands partition the distinct values; consecutive values always
    share an island; islands are separated by gaps."""
    from python_etl_mailing_automation_spark.operators.aggregates import islands

    df = spark.createDataFrame([("k", v) for v in vals], "g string, v int")
    got = sorted(
        (r.island_start, r.island_end, r.n_values)
        for r in islands(df, "g", "v").collect()
    )
    distinct = sorted(set(vals))
    # reconstruct islands in Python
    expect = []
    run = [distinct[0]]
    for v in distinct[1:]:
        if v - run[-1] == 1:
            run.append(v)
        else:
            expect.append((run[0], run[-1], len(run)))
            run = [v]
    expect.append((run[0], run[-1], len(run)))
    assert got == sorted(expect)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g", "h"]),
            st.one_of(st.none(), st.floats(-50, 50, allow_nan=False)),
        ),
        min_size=1,
        max_size=30,
    )
)
@SETTINGS
def test_cdf_normalize_bounds_and_monotonicity(spark, rows):
    from python_etl_mailing_automation_spark.datapipe.stats import cdf_normalize

    df = spark.createDataFrame(
        [(g, v, i) for i, (g, v) in enumerate(rows)], "g string, v double, i long"
    )
    got = cdf_normalize(df, "v", group_col="g").collect()
    by_group: dict = {}
    for r in got:
        if r.v is None:
            assert r.rnk is None and r.cdf is None
            continue
        assert 0.0 <= r.cdf <= 1.0
        assert 1 <= r.rnk <= r.n_group
        by_group.setdefault(r.g, []).append((r.v, r.rnk, r.cdf))
    for vals in by_group.values():
        vals.sort()
        for (v1, r1, c1), (v2, r2, c2) in zip(vals, vals[1:]):
            # monotone: bigger value never gets smaller rank/cdf;
            # equal values share both
            assert (r1 <= r2 and c1 <= c2) or (v1 == v2 and r1 == r2)
            if v1 == v2:
                assert r1 == r2 and c1 == c2
        # the top cdf is 1.0 exactly when the maximum value is
        # UNTIED (rank n); a tied max shares a smaller rank
        top_v = max(v for v, _, _ in vals)
        n_top = sum(1 for v, _, _ in vals if v == top_v)
        top_c = max(c for _, _, c in vals)
        if len(vals) == 1:
            assert top_c == 0.0
        elif n_top == 1:
            assert top_c == 1.0
        else:
            assert top_c < 1.0


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["u1", "u2", "u3"]), st.integers(0, 70)),
        min_size=1,
        max_size=30,
    )
)
@SETTINGS
def test_cohort_retention_conservation(spark, rows):
    """Offset-0 cells equal cohort sizes; every cell is bounded by its
    cohort; per-user distinct weeks are conserved across cells."""
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        cohort_retention,
    )
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(u, base + dt.timedelta(days=d)) for u, d in rows],
        "user string, ts timestamp",
    )
    got = cohort_retention(df, "user", "ts").collect()
    # python reference
    weeks: dict = {}
    epoch = dt.date(1970, 1, 1)
    for u, d in rows:
        w = ((base + dt.timedelta(days=d)).date() - epoch).days // 7
        weeks.setdefault(u, set()).add(w)
    cohorts: dict = {}
    for u, ws in weeks.items():
        cohorts.setdefault(min(ws), set()).add(u)
    for r in got:
        assert 1 <= r.n_active <= r.n_cohort
        assert r.n_cohort == len(cohorts[r.cohort_week])
        if r.week_offset == 0:
            assert r.n_active == r.n_cohort
    total_cells = sum(r.n_active for r in got)
    assert total_cells == sum(len(ws) for ws in weeks.values())


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=20), min_size=1, max_size=15
    ),
    phrase=st.sampled_from(["a b", "b a", "a a", "a b a"]),
)
@SETTINGS
def test_phrase_search_matches_python_scan(spark, texts, phrase):
    from python_etl_mailing_automation_spark.datapipe.text import phrase_search

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_matches, r.first_pos)
        for r in phrase_search(df, phrase).collect()
    }
    words = phrase.split()
    expect = {}
    for i, t in enumerate(texts):
        toks = t.split()
        hits = [
            p + 1
            for p in range(len(toks) - len(words) + 1)
            if toks[p : p + len(words)] == words
        ]
        if hits:
            expect[i] = (len(hits), hits[0])
    assert got == expect
