"""The benchmark workloads.

Each workload is a class with ``setup(k)`` (input generation and any store
build; run several times, the last one is kept), ``one_pass()`` (one seeded
unit of work, appending the latency of each operation in it to ``ops``; the
first ``warmup_passes`` passes warm the JVM and are not measured),
``finish()`` (bookkeeping after the timed region) and ``verify()`` (oracle
comparison, outside the timed region, returning the number of outputs
checked and a list of mismatches). All engine access goes through
``obadiah_spark``'s public functions, wrapped in tracer spans.
"""

from __future__ import annotations

import os
import time

import numpy as np

from gen import EPOCH_US, Shape, write_events

EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")
CKPT_FREQ_S = 86400


def _ts(us: int) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(us // 1_000_000))


def _load_events(spark, data_dir: str):
    from obadiah_spark.session import read_table

    read_table(spark, data_dir, "events").createOrReplaceTempView("events")


class Workload:
    shape: Shape
    warmup_passes = 1

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.data = os.path.join(work, "input")
        self.events_file = os.path.join(self.data, "events.parquet")
        self.ops: list[float] = []
        self.progress: list[dict] = []      # streaming trigger progress

    def finish(self) -> None:
        pass

    def generate(self) -> None:
        self.input_sha256 = write_events(self.data, self.seed, self.shape)

    def oracle(self):
        from verify import Oracle

        return Oracle(self.events_file)


# ---------------------------------------------------------------------------

class AnalystProbe(Workload):
    """One closed-loop client issuing a seeded list of get.* requests
    against a silver store built in set-up. level3 is read uncached from
    the silver layout, as a 100 TB deployment would."""

    shape = Shape(events=6_000, weeks=2, episode_size=4.0)
    WINDOWS_S = (300, 3600, 6 * 3600, 86400)
    KINDS = ("order_book", "spread_at", "get_depth", "get_spread",
             "get_trades", "get_events")
    SPAN = {  # span name per request kind: <module>.<call>
        "order_book": "operators.order_book.order_book",
        "spread_at": "operators.depth.spread_at",
        "get_depth": "operators.depth.get_depth",
        "get_spread": "operators.depth.get_spread",
        "get_trades": "operators.events.get_trades",
        "get_events": "operators.events.get_events",
    }

    def setup(self, k: int) -> None:
        from obadiah_spark.fold import book_checkpoints
        from obadiah_spark.sources import silver
        from obadiah_spark.synth import register_level3

        self.generate()
        # every build pays for the matches cache of register_level3 again
        self.spark.catalog.clearCache()
        _load_events(self.spark, self.data)
        with self.tracer.call("synth.register_level3"):
            l3 = register_level3(self.spark)
            # fill the session cache register_level3 declares for matches,
            # so no timed request pays for it
            self.matches = self.spark.table("matches")
            self.matches.count()
        l3_path = os.path.join(self.work, f"silver_{k}", "level3")
        self.ck_path = os.path.join(self.work, f"silver_{k}", "ckpt")
        with self.tracer.call("sources.silver.write_level3"):
            silver.write_level3(l3, l3_path)
        with self.tracer.call("fold.book_checkpoints"):
            silver.write_checkpoints(
                book_checkpoints(l3, CKPT_FREQ_S, use_cache=False), self.ck_path)
        with self.tracer.call("sources.silver.write_era_registry"):
            silver.write_era_registry(l3, self.ck_path)
        self.silver = silver.read_level3(self.spark, l3_path)
        self.requests = self._request_list()
        self.results: list[tuple[tuple, object]] = []

    def _request_list(self, passes: int = 64) -> list[list[tuple]]:
        """Every pass issues each request kind once, in a fixed order, at
        seeded instants inside the history (one day of margin at both
        ends). The four range kinds take the four window lengths, rotated
        by one per pass, so every pass asks for the same amount of work and
        only the instants depend on the seed."""
        rng = np.random.default_rng([self.seed, 1])
        lo = EPOCH_US + 86_400_000_000
        hi = EPOCH_US + self.shape.span_us - 2 * 86_400_000_000
        out = []
        for p in range(passes):
            batch = []
            for j, kind in enumerate(self.KINDS):
                start = int(rng.integers(lo, hi)) // 1_000_000 * 1_000_000
                win = self.WINDOWS_S[(p + j) % len(self.WINDOWS_S)] * 1_000_000
                batch.append((kind, _ts(start), _ts(start + win)))
            out.append(batch)
        return out

    def _run(self, kind: str, start: str, end: str):
        from obadiah_spark.fold import spread_fold, spread_fold_periods
        from obadiah_spark.operators import depth, events, order_book

        s3 = self.silver
        if kind == "order_book":
            live = order_book.snapshot_from_silver(s3, self.ck_path, start,
                                                   only_makers=True)
            return order_book.order_book(s3, start, live=live)
        if kind == "spread_at":
            return depth.spread_at(s3, start)
        if kind == "get_depth":
            return depth.get_depth(s3, start, end)
        if kind == "get_spread":
            l1 = spread_fold_periods(s3, start=start, end=end)
            return depth.get_spread(s3, l1, start, end)
        if kind == "get_trades":
            return events.get_trades(self.matches, start, end)
        # get_events reads the prevailing level1 before ``start`` too, so
        # it takes the full-history fold, not the range-pruned one
        return events.get_events(s3, spread_fold(s3), self.matches, start, end)

    def one_pass(self, i: int) -> None:
        for req in self.requests[i % len(self.requests)]:
            with self.tracer.call(self.SPAN[req[0]]) as info:
                pdf = self._run(*req).toPandas()
                info["rows_out"] = len(pdf)
            self.ops.append(info["wall_s"])
            self.results.append((req, pdf))

    def verify(self) -> tuple[int, list[str]]:
        from obadiah_spark.operators import depth, events, order_book
        from verify import mismatch

        sql = {
            "order_book": lambda s, e: order_book.order_book_oracle_sql(s),
            "spread_at": lambda s, e: depth.spread_at_oracle_sql(s),
            "get_depth": depth.get_depth_oracle_sql,
            "get_spread": depth.get_spread_oracle_sql,
            "get_trades": events.trades_oracle_sql,
            "get_events": events.events_oracle_sql,
        }
        bad = []
        oracle = self.oracle()
        try:
            for (kind, start, end), got in self.results:
                why = mismatch(got, oracle.df(sql[kind](start, end)))
                if why:
                    bad.append(f"{kind}({start}, {end}): {why}")
        finally:
            oracle.close()
        return len(self.results), bad


# ---------------------------------------------------------------------------

# deterministic per-trade amount perturbation for the sweep's closed loop:
# one bucket per tolerance, so later tolerance columns find matches
SWEEP_DELTAS = (0.0, 0.0005, 0.005, 0.05, 0.5)
# trade id packs the four link fields into disjoint bit ranges
SWEEP_TRADE_ID = ("CAST(buy_order_id AS BIGINT) * 4398046511104 "
                  "+ CAST(buy_event_no AS BIGINT) * 8388608 "
                  "+ CAST(sell_order_id AS BIGINT) * 2048 "
                  "+ CAST(sell_event_no AS BIGINT)")
SWEEP_AMOUNT = ("amount + CASE (" + SWEEP_TRADE_ID + ") % 5 "
                + " ".join(f"WHEN {k} THEN CAST({d!r} AS DOUBLE)"
                           for k, d in enumerate(SWEEP_DELTAS) if k)
                + " ELSE CAST(0 AS DOUBLE) END")
SWEEP_TRADES_SQL = f"""
SELECT pair_id, date_trunc('week', microtimestamp) AS era,
       {SWEEP_TRADE_ID} AS exchange_trade_id,
       microtimestamp AS trade_microtimestamp,
       {SWEEP_AMOUNT} AS amount,
       price, side AS trade_type, buy_order_id, sell_order_id
FROM inferred
"""
EXACT_TRADES_SQL = """
SELECT pair_id, era, microtimestamp AS trade_microtimestamp, price,
       amount AS fill, side AS origination, exchange_trade_id
FROM matches
"""


class HistoryRebuild(Workload):
    """The store-and-process tier: a batch job turning generated events into
    the silver store and its derived outputs, written to a parquet sink,
    followed by the capture tier's drain of the same events, as an ordered
    file-per-trigger backlog, through the executor-side streaming chain. A
    scheduled job runs once, cold, in its own process, so the one measured
    pass is the first."""

    warmup_passes = 0

    shape = Shape(events=4_000, weeks=3, episode_size=4.0)
    FILES = 3       # backlog files = stream triggers, one per week
    FOLDS = {
        "spread": "fold.spread_fold",
        "depth_change": "fold.depth_change_fold",
        "depth_summary": "operators.depth.depth_summary_fold",
        "queues": "operators.resample.queues",
        "trading_period": "operators.trading.trading_period_fold",
    }
    MATCHERS = {
        "match_fill_exact": "operators.matching.match_price_and_fill_exact",
        "match_sweep": "operators.lifecycle.bitstamp_match_sweep",
    }

    def setup(self, k: int) -> None:
        import shutil

        import pyarrow.parquet as pq

        from probe import StreamProgress

        self.generate()
        _load_events(self.spark, self.data)
        self.sink = os.path.join(self.work, "sink")
        self.backlog = os.path.join(self.work, "backlog")
        shutil.rmtree(self.backlog, ignore_errors=True)
        os.makedirs(self.backlog)
        table = pq.read_table(self.events_file)
        bounds = np.linspace(0, table.num_rows, self.FILES + 1).astype(int)
        # the file source replays in modification-time order: pin one
        # distinct mtime per file so the order never depends on a tie
        t0 = time.time() - 10 * self.FILES
        for j, (a, b) in enumerate(zip(bounds, bounds[1:])):
            f = os.path.join(self.backlog, f"part-{j:04d}.parquet")
            pq.write_table(table.slice(a, b - a), f)
            os.utime(f, (t0 + 10 * j, t0 + 10 * j))
        if k == 0:
            self.listener = StreamProgress(self.spark)
        self.passes = 0

    def _sink(self, name: str, df) -> None:
        df.write.mode("overwrite").parquet(os.path.join(self.sink, name))

    def one_pass(self, i: int) -> None:
        from obadiah_spark import fold
        from obadiah_spark.operators import (
            depth, lifecycle, matching, quality, repair, resample, trading)
        from obadiah_spark.sources import silver
        from obadiah_spark.streaming.chain import run_chain_stream
        from obadiah_spark.synth import register_level3

        spark, call = self.spark, self.tracer.call

        def timed(name, fn, **kw):
            with call(name, **kw) as info:
                out = fn()
            self.ops.append(info["wall_s"])
            return out

        l3 = register_level3(spark).cache()
        n = timed("synth.register_level3", l3.count)
        l3_path = os.path.join(self.sink, "silver_level3")
        ck_path = os.path.join(self.sink, "silver_ckpt")
        timed("sources.silver.write_level3",
              lambda: silver.write_level3(l3, l3_path), rows_in=n)
        timed("fold.book_checkpoints", lambda: silver.write_checkpoints(
            fold.book_checkpoints(l3, CKPT_FREQ_S, use_cache=False), ck_path),
            rows_in=n)
        timed("sources.silver.write_era_registry",
              lambda: silver.write_era_registry(l3, ck_path))
        fold.seed_checkpoint_cache(l3, CKPT_FREQ_S,
                                   silver.read_checkpoints(spark, ck_path))
        timed("operators.quality.chain_audit",
              lambda: self._sink("chain_audit", quality.chain_audit(l3)))
        folds = {
            "spread": lambda: fold.spread_fold(l3).drop("era"),
            "depth_change": lambda: fold.depth_change_fold(l3),
            "depth_summary": lambda: depth.depth_summary_fold(l3),
            "queues": lambda: resample.queues(l3),
            "trading_period": lambda: trading.trading_period_fold(l3, volume=0.0),
        }
        for name, build in folds.items():
            timed(self.FOLDS[name], lambda b=build, k=name: self._sink(k, b()),
                  rows_in=n)
        timed(self.MATCHERS["match_fill_exact"],
              lambda: self._sink("match_fill_exact",
                                 matching.match_price_and_fill_exact(
                                     l3, spark.sql(EXACT_TRADES_SQL))))

        def sweep():
            matching.inferred_trades(l3).createOrReplaceTempView("inferred")
            self._sink("match_sweep", lifecycle.bitstamp_match_sweep(
                l3, spark.sql(SWEEP_TRADES_SQL)))
        timed(self.MATCHERS["match_sweep"], sweep)
        timed("operators.repair.fix_chain_integrity", lambda: self._sink(
            "fix_chain_integrity",
            repair.fix_chain_integrity(repair.corrupt_chains(l3))))
        l3.unpersist()

        self.latest = timed(
            "streaming.chain.run_chain_stream",
            lambda: run_chain_stream(
                spark, self.backlog, EVENTS_SCHEMA,
                os.path.join(self.work, f"stream_ckpt_{i}"),
                query_name=f"perfbench_chain_{i}"),
            rows_in=self.shape.events)
        self.passes += 1

    def finish(self) -> None:
        """Progress events reach the listener asynchronously: wait for one
        per trigger (one trigger per backlog file), then stop listening."""
        deadline = time.time() + 30
        while (len(self.listener.rows) < self.FILES * self.passes
               and time.time() < deadline):
            time.sleep(0.05)
        self.listener.stop()
        self.progress = list(self.listener.rows)

    def verify(self) -> tuple[int, list[str]]:
        import pyarrow.parquet as pq

        from obadiah_spark.operators import (
            depth, lifecycle, matching, quality, resample, trading)
        from obadiah_spark.streaming.chain import finalize_open_chains
        from verify import mismatch

        sweep = lifecycle.bitstamp_match_sweep_oracle_sql()
        sweep = sweep.replace(
            "WITH sweep_pairs_o1 AS",
            f"WITH inferred AS ({matching.inferred_trades_oracle_sql()}),\n"
            f"sweep_trades AS ({SWEEP_TRADES_SQL}),\nsweep_pairs_o1 AS", 1)
        oracles = {
            "chain_audit": quality.CHAIN_AUDIT_ORACLE_BODY,
            "spread": depth.SPREAD_LINEAR_ORACLE_BODY,
            "depth_change": depth.DEPTH_CHANGE_ORACLE_BODY,
            "depth_summary": depth.depth_summary_oracle_sql(),
            "queues": resample.queues_oracle_sql(),
            "trading_period": trading.trading_period_v0_oracle(),
            "match_fill_exact": matching.match_fill_exact_oracle_sql(),
            "match_sweep": sweep,
            "fix_chain_integrity": "SELECT * FROM level3",
            "silver_level3": "SELECT * FROM level3",
        }
        bad = []
        sink_rows = {}
        oracle = self.oracle()
        try:
            for name, sql in oracles.items():
                got = pq.read_table(os.path.join(self.sink, name)).to_pandas()
                if name == "silver_level3":
                    got = got.drop(columns=["month"])
                sink_rows[name] = len(got)
                why = mismatch(got, oracle.df(sql))
                if why:
                    bad.append(f"{name}: {why}")
            why = mismatch(finalize_open_chains(self.latest),
                           oracle.df("SELECT * FROM level3"))
            if why:
                bad.append(f"stream level3 vs batch synth: {why}")
            offered = {
                "match_fill_exact": "SELECT count(*) FROM matches",
                "match_sweep": "SELECT count(*) FROM ("
                               f"{matching.inferred_trades_oracle_sql()})",
            }
            offered = {k: oracle.con.execute(q).fetchone()[0]
                       for k, q in offered.items()}
        finally:
            oracle.close()
        # rows out of each fold and links found by each matcher, per call
        for name, span in {**self.FOLDS, **self.MATCHERS}.items():
            rec = self.tracer.calls[span]
            if name in offered:
                rec["matched"] = sink_rows[name] * rec["calls"]
                rec["attempted"] = offered[name] * rec["calls"]
            else:
                rec["rows_out"] = sink_rows[name] * rec["calls"]
        if len(self.progress) != self.FILES * self.passes:
            bad.append(f"{len(self.progress)} trigger progress events for "
                       f"{self.FILES * self.passes} triggers")
        return len(oracles) + 2, bad


WORKLOADS = {
    "analyst_probe": AnalystProbe,
    "history_rebuild": HistoryRebuild,
}
