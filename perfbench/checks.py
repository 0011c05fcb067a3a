"""Output checks. Each returns a list of failure messages; empty means the
output is correct. The benchmark counts a failed check as a failed
operation, so a wrong answer can never be reported as a fast one."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def digest(records: DataFrame) -> int:
    """Order-independent digest of the (original_index, group_id) pairs."""
    return int(
        records.agg(F.bit_xor(F.xxhash64("original_index", "group_id"))).first()[0]
        or 0
    )


def _group_stats(records: DataFrame) -> dict:
    r = records.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("original_index").alias("n_idx"),
        F.min("group_id").alias("gmin"),
        F.max("group_id").alias("gmax"),
        F.countDistinct("group_id").alias("g"),
    ).first()
    sizes = [row["c"] for row in
             records.groupBy("group_id").agg(F.count(F.lit(1)).alias("c")).collect()]
    return {**r.asDict(), "sizes": sizes}


def check_kapra(res, n_input: int, K: int) -> tuple[list[str], dict]:
    """records + suppressed = N; dense GroupIDs 1..G; every group >= K
    unless the merge found no partner (then the flag counts it)."""
    st = _group_stats(res.records)
    fails = []
    G = len(res.groups)
    if st["n"] + res.n_suppressed != n_input:
        fails.append(f"kapra: {st['n']} records + {res.n_suppressed} suppressed != {n_input}")
    if st["n_idx"] != st["n"]:
        fails.append("kapra: duplicate original_index in records")
    if G and (st["gmin"], st["gmax"], st["g"]) != (1, G, G):
        fails.append(f"kapra: group ids not dense 1..{G}: {st['gmin']}..{st['gmax']} ({st['g']})")
    if sorted(st["sizes"]) != sorted(g["count"] for g in res.groups):
        fails.append("kapra: record group sizes differ from the group list")
    small = [c for c in st["sizes"] if c < K]
    # the reference's greedy merge stops when an undersized group has no
    # partner left, which only happens when it is the last group
    no_partner = len(small) == 1 and G == 1
    if small and not no_partner:
        fails.append(f"kapra: {len(small)} groups below K={K}")
    return fails, {"no_partner": int(no_partner), "groups": G}


def check_naive(res, n_input: int, K: int) -> tuple[list[str], dict]:
    """Dense GroupIDs 1..G matching n_groups; no duplicated or invented
    records; every group >= K unless the tree dropped records from it."""
    st = _group_stats(res.records)
    fails = []
    dropped = n_input - st["n"]
    if dropped < 0 or st["n_idx"] != st["n"]:
        fails.append(f"naive: {st['n']} records ({st['n_idx']} distinct) from {n_input} inputs")
    if (st["gmin"], st["gmax"], st["g"]) != (1, res.n_groups, res.n_groups):
        fails.append(f"naive: group ids not dense 1..{res.n_groups}")
    small = sum(1 for c in st["sizes"] if c < K)
    if small and not dropped:
        fails.append(f"naive: {small} groups below K={K} with no dropped records")
    return fails, {"dropped": dropped, "groups": res.n_groups}


def check_kapra_oracle(records: list, n_suppressed: int, oracle) -> list[str]:
    """Engine KAPRA output on the oracle instance equals the numpy oracle
    record by record (group, pattern, level)."""
    got = {r["original_index"]: (r["group_id"], r["pattern"], r["level"]) for r in records}
    want = {i: (g, p, lv) for i, g, p, lv in zip(
        oracle.record_index, oracle.group_id, oracle.pattern, oracle.level)}
    fails = []
    if got != want:
        bad = sum(1 for i in want if got.get(i) != want[i]) + len(set(got) - set(want))
        fails.append(f"kapra oracle: {bad} of {len(want)} records differ")
    if n_suppressed != len(oracle.suppressed):
        fails.append(f"kapra oracle: suppressed {n_suppressed} != {len(oracle.suppressed)}")
    return fails


def check_naive_oracle(records: list, oracle) -> list[str]:
    """Engine naive output (in reference row order) equals the oracle."""
    got = [(r["original_index"], r["group_id"], r["pattern"], r["level"]) for r in records]
    want = list(zip(oracle.record_index, oracle.group_id, oracle.pattern, oracle.level))
    if got != want:
        bad = sum(1 for a, b in zip(got, want) if a != b) + abs(len(got) - len(want))
        return [f"naive oracle: {bad} of {len(want)} rows differ"]
    return []


def _multiset_digest(df: DataFrame) -> tuple:
    """Row count plus two order-independent folds of a 64-bit hash of every
    column (doubles are hashed by their bits): equal multisets of rows give
    equal digests, and a differing row changes both folds."""
    h = F.xxhash64(*df.columns)
    return tuple(df.agg(
        F.count(F.lit(1)), F.bit_xor(h), F.sum(F.pmod(h, F.lit(2_147_483_647)))
    ).first())


def _same_rows(a: DataFrame, b: DataFrame) -> bool:
    return _multiset_digest(a) == _multiset_digest(b.select(*a.columns))


def check_tiers(tiers: dict[str, DataFrame], n_raw: int) -> list[str]:
    """n is conserved at every tier."""
    fails = []
    for name, df in tiers.items():
        n = df.agg(F.sum("n")).first()[0] or 0
        if n != n_raw:
            fails.append(f"tiers: {name} holds n={n}, raw has {n_raw}")
    return fails


def check_tiers_direct(tiers: dict[str, DataFrame], source: DataFrame,
                       seconds: dict[str, int]) -> list[str]:
    """Every stored tier equals a rollup taken directly from the raw turns,
    written here with plain Spark expressions: the from-scratch answer a
    resumed cascade must reproduce. The latencies are whole seconds, so
    sums are exact in any order and the comparison is exact."""
    cols = ["conv_id", "bucket", "n", "sum_value", "min_value", "max_value"]
    epoch = F.col("ts").cast("timestamp").cast("double")
    fails = []
    for name, df in tiers.items():
        sec = seconds[name]
        bucket = F.timestamp_seconds(F.floor(epoch / sec).cast("long") * sec)
        direct = source.groupBy("conv_id", bucket.alias("bucket")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("latency_sec").alias("sum_value"),
            F.min("latency_sec").alias("min_value"),
            F.max("latency_sec").alias("max_value"),
        )
        if not _same_rows(df.select(*cols), direct.select(*cols)):
            fails.append(f"tiers: resumed {name} differs from the direct-from-raw rollup")
    return fails


def check_roundtrip(points: DataFrame, source: DataFrame) -> list[str]:
    """Gorilla decompress(compress(x)) == x for every point, compared by a
    hash of each point's (conv_id, ts, value) bits."""
    cols = ["conv_id", "ts", "value"]
    a = points.select(*cols)
    b = source.select(*cols)
    if not _same_rows(a, b):
        return ["gorilla: decompressed points differ from the source"]
    return []

