"""Incremental crawl-frontier dedup: a persisted Bloom "seen set".

A crawler ingesting WARC batches needs "have I fetched/kept this URL
before?" across ALL prior batches without ever re-scanning them.  The
classic answer (Heritrix, Nutch, every frontier since the Bloom paper)
is a persisted Bloom filter: O(1) probe, no false negatives — a seen
URL is NEVER re-admitted — and a sized false-positive rate, where an FP
means a genuinely-new URL is dropped (the crawler trade: at fpp=1e-3,
one lost URL per thousand, against a seen-set that fits in memory at
billions of URLs — 10^9 keys at 1e-3 is ~1.7 GB of bitmap).

Execution model:
- ``filter_unseen`` broadcasts the bitmap once per executor and probes
  with the vectorized Arrow pass of :func:`hllspark.joins.bloom_prune`
  — the batch is never shuffled or collected.
- ``add`` builds the batch's partial bitmaps map-side (one m/8-byte row
  per partition crosses the wire, independent of batch size) and
  OR-merges into the state file via write-temp + ``os.replace`` —
  atomic on POSIX, so a crashed commit leaves the previous state and a
  retry is safe (OR is idempotent).
- ``ingest`` = dropDuplicates(key) -> filter_unseen ->
  localCheckpoint (the SAME rows are both returned and committed) ->
  add.  Three sequential ingests produce exactly the survivor set of a
  one-shot cross-batch distinct (pytest-gated), modulo sized FPs.

Single-writer semantics, like the LSH index sidecar: one ingest job at
a time owns the state dir (crawl frontiers are naturally single-owner).
Composes with :func:`hllspark.warc.warc_stream` in a foreachBatch sink
for the full crawler loop: WARC files -> records -> pages -> unseen
pages -> downstream curation.
"""

from __future__ import annotations

import os
from typing import Sequence

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .sketches import bloom

_STATE = "seen_bloom.bin"


class BloomSeenSet:
    """Persisted Bloom seen-set over a key column (typically url)."""

    def __init__(self, state_dir: str):
        self.state_dir = state_dir
        self.path = os.path.join(state_dir, _STATE)
        if not os.path.exists(self.path):
            raise FileNotFoundError(
                f"no seen-set at {state_dir}; call BloomSeenSet.create"
            )

    @staticmethod
    def create(
        state_dir: str, n_expected: int, fpp: float = 1e-3
    ) -> "BloomSeenSet":
        """New empty seen-set sized for ``n_expected`` total keys over
        the crawl's LIFETIME at false-positive rate ``fpp`` (capacity is
        fixed at creation — Bloom bitmaps don't grow; size for the
        crawl, not the batch)."""
        if os.path.exists(os.path.join(state_dir, _STATE)):
            raise FileExistsError(f"seen-set already exists in {state_dir}")
        m_bits, k = bloom.params_for(n_expected, fpp)
        os.makedirs(state_dir, exist_ok=True)
        tmp = os.path.join(state_dir, _STATE + ".tmp")
        with open(tmp, "wb") as f:
            f.write(bloom.encode(bloom.zero(m_bits), k))
        os.replace(tmp, os.path.join(state_dir, _STATE))
        return BloomSeenSet(state_dir)

    def _load(self):
        with open(self.path, "rb") as f:
            return bloom.decode(f.read())

    def fill_ratio(self) -> float:
        bits, _ = self._load()
        return bloom.fill_ratio(bits)

    def filter_unseen(self, df: DataFrame, key_col: str = "url") -> DataFrame:
        """Rows whose key has NEVER been committed (no false negatives;
        a sized-fpp fraction of new keys is wrongly dropped).  Broadcast
        bitmap probe; the batch is not shuffled."""
        bits, k = self._load()
        payload = bloom.encode(bits, k)
        from .sketches.bloom import might_contain

        sc = df.sparkSession.sparkContext
        b = sc.broadcast(payload)

        @F.pandas_udf("boolean")
        def _unseen(keys: pd.Series) -> pd.Series:
            if len(keys) == 0:  # empty Arrow batches reach UDFs
                return pd.Series([], dtype=bool)
            # zero-copy read-only view of the broadcast bitmap: a
            # per-batch decode() would memcpy the (potentially GB-sized)
            # bitmap once per ~10k-row Arrow batch
            bb, kk = bloom.decode_view(b.value)
            return pd.Series(~might_contain(bb, keys, kk))

        return df.where(F.col(key_col).isNotNull()).where(
            _unseen(F.col(key_col))
        )

    def add(self, df: DataFrame, key_col: str = "url") -> None:
        """OR-merges the batch's keys into the state — distributed
        partial bitmaps, one m/8-byte row per partition; atomic
        replace."""
        bits, k = self._load()
        from .sketches.generic import sketch_agg

        row = sketch_agg(
            df.where(F.col(key_col).isNotNull()),
            key_col,
            bloom.kind(bits.shape[0] * 8, k),
        ).first()
        if row is not None and row["sketch"] is not None:
            batch_bits, _ = bloom.decode(bytes(row["sketch"]))
            bits = bloom.merge(bits, batch_bits)
        tmp = self.path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(bloom.encode(bits, k))
        os.replace(tmp, self.path)

    def ingest(self, df: DataFrame, key_col: str = "url") -> DataFrame:
        """Filter-then-commit: returns the batch's never-seen rows
        (within-batch duplicates collapsed keep-one) and marks exactly
        those keys seen.  localCheckpoint pins the survivor set so the
        returned frame and the committed keys are the SAME rows even
        though the plan is lazy."""
        batch = df.dropDuplicates([key_col])
        unseen = self.filter_unseen(batch, key_col).localCheckpoint(
            eager=True
        )
        self.add(unseen, key_col)
        return unseen


# ---------------------------------------------------------------------------
# robots.txt compliance filtering (REP, RFC 9309)
# ---------------------------------------------------------------------------

def parse_robots(
    robots: DataFrame,
    host_col: str = "host",
    text_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """(host, rule 'allow'|'disallow', prefix) from per-host robots.txt
    text — the rule groups that apply to ``agent`` (exact token match)
    or ``*``.  Group semantics per RFC 9309: consecutive User-agent
    lines open a group; Allow/Disallow lines belong to the open group;
    an empty Disallow value imposes no restriction (dropped here).
    Robots documents are tiny and host-grain, so a per-row Python parse
    is the honest cost model; the output is a RULES dim table, bounded
    by hosts x rules, made to be broadcast."""

    def run(batches):
        for pdf in batches:
            hosts, rules, prefixes = [], [], []
            for host, txt in zip(pdf[host_col], pdf[text_col]):
                if txt is None:
                    continue
                group_agents: list[str] = []
                group_open = False  # False = collecting agents
                applies = False
                for raw in str(txt).splitlines():
                    line = raw.split("#", 1)[0].strip()
                    if not line or ":" not in line:
                        continue
                    key, _, val = line.partition(":")
                    key, val = key.strip().lower(), val.strip()
                    if key == "user-agent":
                        if group_open:  # new group starts
                            group_agents, group_open = [], False
                        group_agents.append(val.lower())
                    elif key in ("allow", "disallow"):
                        group_open = True
                        applies = agent.lower() in group_agents or "*" in group_agents
                        if applies and val:
                            hosts.append(host)
                            rules.append(key)
                            prefixes.append(val)
            yield pd.DataFrame(
                {"host": hosts, "rule": rules, "prefix": prefixes}
            )

    return robots.mapInPandas(run, "host string, rule string, prefix string")


def robots_filter(
    pages: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Rows of ``pages`` whose url is ALLOWED under the per-host rules
    (from :func:`parse_robots`) with RFC 9309 / Google REP matching:
    the most-specific (longest-pattern) matching rule decides; on a
    length tie allow wins; no matching rule (or no rules for the host)
    means allowed.  The RFC's special characters are supported: ``*``
    matches any character sequence and a trailing ``$`` anchors the end
    of the path (both per RFC 9309 §2.2.3); mid-rule ``$`` is literal.

    Plan: rules collapse to ONE array<struct> row per host (a tiny agg
    on the dim side; wildcard rules are translated there into fully
    escaped regexes — pure string exprs over the dim table), broadcast-
    join to pages on host, and the decision is a single expression —
    plain rules match via startswith (the common fast path), wildcard
    rules via regexp_like, array_max on (pattern_len, is_allow) structs,
    null-safe allow — so the page corpus is never shuffled and no
    Python touches it."""
    from .curation import url_host, url_path

    # regex-escape the rule (dim-side, tiny): backslash FIRST, then the
    # other metacharacters; '*' is deliberately NOT escaped (it becomes
    # '.*'), and a trailing '$' is restored as the end anchor afterwards
    esc = F.col("prefix")
    for ch in "\\.[]{}()+?^$|":
        esc = F.replace(esc, F.lit(ch), F.lit("\\" + ch))
    esc = F.replace(esc, F.lit("*"), F.lit(".*"))
    esc = F.when(
        F.col("prefix").endswith("$"),
        F.concat(esc.substr(F.lit(1), F.length(esc) - 2), F.lit("$")),
    ).otherwise(esc)
    has_wild = F.col("prefix").contains("*") | F.col("prefix").endswith("$")
    pattern = F.when(has_wild, F.concat(F.lit("^"), esc))

    per_host = F.broadcast(
        rules.groupBy("host").agg(
            F.collect_list(
                F.struct(
                    F.col("prefix"),
                    pattern.alias("pattern"),
                    (F.col("rule") == "allow").alias("is_allow"),
                )
            ).alias("__rules")
        )
    )
    raw_path = url_path(F.col(url_col))
    # RFC 9309 matches against the path, which is "/" when the URL has
    # none ("https://h.example.com" must still hit a "Disallow: /")
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    withr = pages.withColumn("__host", url_host(F.col(url_col))).join(
        per_host.withColumnRenamed("host", "__host"), "__host", "left"
    )
    matching = F.filter(
        F.col("__rules"),
        lambda r: F.when(
            r["pattern"].isNull(), path.startswith(r["prefix"])
        ).otherwise(F.regexp_like(path, r["pattern"])),
    )
    best = F.array_max(
        F.transform(
            matching,
            lambda r: F.struct(
                F.length(r["prefix"]).alias("l"),
                r["is_allow"].cast("int").alias("a"),
            ),
        )
    )
    allowed = F.col("__rules").isNull() | best.isNull() | (best["a"] == 1)
    return withr.where(allowed).drop("__host", "__rules")


def politeness_waves(
    df: DataFrame,
    url_col: str = "url",
    per_wave: int = 1,
    seed: int = 0,
    num_partitions: int | None = None,
    host_col: str | None = None,
) -> DataFrame:
    """Per-host politeness scheduling for a fetch frontier: assign every
    URL a ``wave`` (0-based) such that each host contributes AT MOST
    ``per_wave`` URLs per wave — a fetcher that executes wave k at
    t0 + k*delay therefore bounds its request rate at per_wave/delay per
    host (the RFC-9309-adjacent crawl-delay contract every polite
    crawler keeps).  Every wave of a host except its last is exactly
    full, so the schedule length per host is ceil(n_host / per_wave).

    Returns ``df`` + (host string, wave long).  Pass ``host_col`` to
    group by an existing column instead of deriving ``host`` from the
    URL — required if ``df`` already carries a column named ``host``
    (the derivation would otherwise silently replace it).  Assignment
    is deterministic and engine-portable: URLs rank within their host
    by (md5-hex8(url, seed), url) — the sampling._md5_hex8 draw, so
    path prefixes do not cluster into the same wave.

    Scale design: wave = floor((rank-1) / per_wave) needs the EXACT
    dense per-host rank, and the naive row_number() over (partition by
    host) puts a 100M-page mega-host in ONE task (the skew hazard
    measured in PLANS §9).  Every host instead takes the rank from
    ``curation._range_scan``: range-repartition on (host, order, url) so
    a mega-host SPANS partitions, a per-partition running count, and
    broadcast per-partition offsets — no driver collect, and no
    threshold to tune.  A NULL host (malformed URL) is one host.

    With per_wave=1 and a frontier of seen-filtered, robots-allowed
    URLs (``BloomSeenSet.ingest`` -> ``robots_filter`` -> this), the
    output is a complete polite fetch plan."""
    from .curation import _range_scan, url_host
    from .sampling import _md5_hex8

    if per_wave < 1:
        raise ValueError("politeness_waves: per_wave must be >= 1")
    if host_col is None and "host" in df.columns:
        raise ValueError(
            "politeness_waves: df already has a 'host' column — pass "
            "host_col='host' to use it (or rename it) rather than have "
            "the URL-derived host silently replace it"
        )
    base = (
        df.withColumnRenamed(host_col, "host")
        if host_col is not None and host_col != "host"
        else (
            df
            if host_col == "host"
            else df.withColumn("host", url_host(F.col(url_col)))
        )
    ).withColumn("__o", _md5_hex8([F.col(url_col)], seed))
    ranked = _range_scan(base, ["host"], ["__o", url_col], F.lit(1), num_partitions)
    return ranked.withColumn(
        "wave",
        F.floor((F.col("__cum") - F.lit(1)) / F.lit(int(per_wave))).cast("long"),
    ).drop("__o", "__cum")


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    num_partitions: int | None = None,
) -> DataFrame:
    """PageRank (Page et al. 1999) over a link graph — the original
    crawl-frontier prioritization signal: rank hosts/URLs by incoming
    link mass, fetch high-rank first (compose with
    :func:`politeness_waves` by passing rank as its order).

    Uniform-teleport formulation over the node set N = distinct(src) ∪
    distinct(dst), with DANGLING mass redistributed uniformly each
    iteration (nodes with no out-links — crawl frontiers are full of
    them — would otherwise leak rank and the total would decay):

      r'(v) = (1-d)/|N| + d * [ sum_{u->v} r(u)/deg(u)  +  D/|N| ]

    where D = total rank on dangling nodes.  Total rank is conserved at
    exactly 1.0 every iteration (pytest asserts it to 1e-9).

    Plan shape (the 10^12-edge story): the edge table is the only big
    thing.  Per iteration: ONE broadcast-eligible join of the current
    rank table (|N| rows) onto edges, one map-side-combined
    groupBy(dst).sum, one 1-row dangling aggregate.  Ranks/degrees are
    node-sized, not edge-sized; with ``num_partitions`` both the edge
    table and the rank table are pre-hash-partitioned on the join key
    so every iteration's join reuses the same partitioning instead of
    re-exchanging the edges (the pay-the-shuffle-once shape of
    io.write_bucketed, in-plan).  Each iteration ends in a
    localCheckpoint of the |N|-row rank table — O(log-free lineage),
    without it the plan doubles per iteration.

    Returns (node string-or-whatever, rank double).  Deterministic:
    pure arithmetic, no sampling."""
    if iters < 1:
        raise ValueError("pagerank: iters must be >= 1")
    if not (0.0 <= damping < 1.0):
        raise ValueError("pagerank: damping must be in [0, 1)")
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    ).where(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
    if num_partitions:
        e = e.repartition(num_partitions, "__s")
    e = e.localCheckpoint(eager=True)  # the edge table is scanned every
    # iteration: pin it once instead of re-reading/re-shuffling source
    nodes = (
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
    )
    if num_partitions:
        nodes = nodes.repartition(num_partitions, "node")
    deg = e.groupBy(F.col("__s").alias("node")).agg(
        F.count(F.lit(1)).alias("__deg")
    )
    base = nodes.join(deg, "node", "left").localCheckpoint(eager=True)
    n_nodes = base.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    ranks = base.select(
        "node", "__deg", F.lit(1.0 / n_nodes).alias("rank")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        dangling = (
            ranks.where(F.col("__deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        contrib = (
            e.join(
                ranks.where(F.col("__deg").isNotNull()).select(
                    F.col("node").alias("__s"),
                    (F.col("rank") / F.col("__deg")).alias("__c"),
                ),
                "__s",
            )
            .groupBy(F.col("__d").alias("node"))
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = (
            base.select("node", "__deg")
            .join(contrib, "node", "left")
            .select(
                "node",
                "__deg",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__in"), F.lit(0.0))
                        + F.lit(dangling / n_nodes)
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", "rank")


def snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    fingerprint_cols: Sequence[str] | None = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Classify pages between two crawl snapshots: ``added`` (key only in
    ``new``), ``removed`` (only in ``old``), ``changed`` (both, but the
    content fingerprint differs), ``unchanged`` (both, identical —
    excluded by default since it is usually the overwhelming bulk).

    This is the incremental-processing primitive for a recurring crawl:
    downstream curation/dedup/index work re-runs ONLY on the
    added+changed slice instead of the full 100 TB snapshot, and the
    removed slice drives index tombstones.  Keys are assumed unique per
    snapshot (run exact dedup / canonical_url first) — duplicate keys
    would multiply through the full-outer join.

    Plan shape: each side reduces to (key, fingerprint) — the
    fingerprint is ``xxhash64`` over ``fingerprint_cols`` (default: all
    shared non-key columns) and their null mask, computed BEFORE the
    join so only two thin columns shuffle, never page bodies — then ONE
    full-outer sort-merge/hash join on the key.  If both snapshots were
    written with :func:`hllspark.io.write_bucketed` on the key, the join
    runs with zero Exchange (the pay-the-shuffle-once shape); the output
    carries (key, status) plus both fingerprints for audit.
    """
    if fingerprint_cols is None:
        shared = [
            f for f in old.columns if f in set(new.columns) and f != key_col
        ]
        if not shared:
            raise ValueError("no shared non-key columns to fingerprint")
        fingerprint_cols = shared
    # xxhash64 skips null fields, so (NULL,'x') and ('x',NULL) would
    # hash alike (so would xxhash64(struct(...))); hashing a per-column
    # null mask ahead of the values makes null positions significant
    fp = F.xxhash64(
        F.array(*[F.col(c).isNull() for c in fingerprint_cols]),
        *[F.col(c) for c in fingerprint_cols],
    )
    o = old.select(F.col(key_col), fp.alias("__fp_old"))
    n = new.select(F.col(key_col), fp.alias("__fp_new"))
    j = o.join(n, key_col, "full_outer")
    status = (
        F.when(F.col("__fp_old").isNull(), F.lit("added"))
        .when(F.col("__fp_new").isNull(), F.lit("removed"))
        .when(F.col("__fp_old") != F.col("__fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(
        key_col,
        status.alias("status"),
        F.col("__fp_old").alias("fp_old"),
        F.col("__fp_new").alias("fp_new"),
    )
    if not include_unchanged:
        out = out.where(F.col("status") != "unchanged")
    return out
