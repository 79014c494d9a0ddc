"""Correctness gates the benchmark runs on the engine's outputs. Each
gate returns a list of violation messages (empty = pass).

The engine's tables are read with one plain Spark scan each and checked
in pandas on the Spark driver: at benchmark scale a few thousand rows, and a
scan costs one Spark job where an aggregate-and-join check costs
several.
"""

from __future__ import annotations

import math

import pandas as pd
import pyarrow.parquet as papq
from pyspark.sql import functions as F

from pixcrawler_spark.operators import politeness as pol
from pixcrawler_spark.schemas import SEEN_SCHEMA


def _scan(df, *cols) -> pd.DataFrame:
    return df.select(*cols).toPandas()


def extraction(pages_path: str, pages_ext) -> list[str]:
    """pages_ext.text equals pages.text for every url (byte-identical)."""
    want = papq.read_table(pages_path, columns=["url", "text"]).to_pandas()
    got = _scan(pages_ext, "url", "text")
    m = want.merge(got, on="url", how="outer", suffixes=("_want", "_got"),
                   indicator=True)
    bad = []
    if (m["_merge"] != "both").any():
        bad.append(f"{int((m['_merge'] != 'both').sum())} urls in only one "
                   f"of pages / pages_ext ({len(want)} vs {len(got)} rows)")
    both = m[m["_merge"] == "both"]
    differ = both["text_want"].ne(both["text_got"]) & ~(
        both["text_want"].isna() & both["text_got"].isna()
    )
    if differ.any():
        bad.append(f"{int(differ.sum())} urls have pages_ext.text != pages.text")
    return bad


def decisions(results, first_round: int) -> set[tuple]:
    """The (url, fetch_decision, round) set of rounds >= first_round."""
    d = _scan(results.where(F.col("round") >= first_round),
              "url", "fetch_decision", "round")
    return set(d.itertuples(index=False, name=None))


def replay(original: set[tuple], replayed: set[tuple]) -> list[str]:
    if original == replayed:
        return []
    return [
        f"replay differs: {len(original - replayed)} original decisions "
        f"missing, {len(replayed - original)} new"
    ]


def final_state(eng, n_seen_before: int, robots_path: str) -> list[str]:
    """On the crawl's final state:

    - logical frontier ∩ seen = ∅;
    - frontier urls and results urls are unique;
    - |seen| = |results| + |seen rows of the starting state|;
    - per (round, domain), admitted (non-robots-denied) rows ≤ the
      domain's capacity min(max_per_round, floor(round_len / crawl
      delay)), computed here from the robots table and the engine's
      documented defaults for unknown domains.
    """
    store = eng.store
    frontier = _scan(eng.logical_frontier(eng.current_round() + 1), "url")
    seen = _scan(store.read("seen", SEEN_SCHEMA), "url")
    results = _scan(store.read("results"), "url", "domain", "fetch_decision",
                    "round")
    bad = []
    overlap = len(set(frontier["url"]) & set(seen["url"]))
    if overlap:
        bad.append(f"frontier ∩ seen has {overlap} urls")
    for name, df in (("frontier", frontier), ("results", results)):
        dups = int(df["url"].duplicated().sum())
        if dups:
            bad.append(f"{name} has {dups} duplicate urls")
    if len(seen) != len(results) + n_seen_before:
        bad.append(f"|seen| {len(seen)} != |results| {len(results)} "
                   f"+ {n_seen_before}")

    robots = papq.read_table(
        robots_path, columns=["domain", "crawl_delay_s", "max_per_round"]
    ).to_pandas().set_index("domain")
    round_len = eng.config.round_len_s

    def capacity(domain: str) -> int:
        delay, cap = pol.DEFAULT_CRAWL_DELAY_S, pol.DEFAULT_MAX_PER_ROUND
        if domain in robots.index:
            row = robots.loc[domain]
            delay, cap = float(row["crawl_delay_s"]), int(row["max_per_round"])
        return cap if delay <= 0 else min(cap, math.floor(round_len / delay))

    admitted = (
        results[results["fetch_decision"] != "robots_denied"]
        .groupby(["round", "domain"]).size()
    )
    for (rnd, domain), n in admitted.items():
        if n > capacity(domain):
            bad.append(f"round {rnd} domain {domain} admitted {n} rows, "
                       f"capacity {capacity(domain)}")
    return bad
