"""Pool facade — the engine's analog of the reference's ``v3Pool``
(reference v3/state.py:8-331).

Differences by design (Spark-first):
- table materialization uses ``df.cache()`` (executor-memory columnar
  cache) instead of driver RAM, and every cached frame is keyed on the
  file listing of the raw table it was read from (``Pool._listed``), so a
  Pool never serves rows cached under an older listing;
- every ordered op has explicit (block_number, transaction_index, log_index)
  determinism keys;
- the swap precompute keeps the reference's single-slot memo keyed by exact
  ``as_of`` (v3/state.py:176-195): repeat swaps at one time are O(1).
"""

from __future__ import annotations

import posixpath
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from .. import tables as T
from ..ops import asof_lookup_scalar
from . import swap_math as sm
from .liquidity import liquidity_distribution
from .series import bn_at_date as _bn_at_date
from .series import block_clock, clock_series, tick_clock
from .swap import InRangeValues, in_range_values, quote_ladder, swap_frame, swap_in


class UninitializedPoolError(AssertionError):
    """Raised by point-in-time getters when ``revert_on_uninitialized`` is
    set and the pool has no state at ``as_of`` (reference state.py:226,241
    uses a bare assert; subclassing AssertionError keeps except-clauses
    written against the reference's behavior working)."""


class Pool:
    MAX_TICK = sm.MAX_TICK
    Q96 = sm.Q96

    def __init__(
        self,
        spark: SparkSession,
        pool: str,
        chain: str,
        data_path: str,
        pull: bool = True,
        save_path: str | None = None,
        refresh: bool = False,
    ):
        """``save_path`` is the cross-session analog of the reference's
        ``readFromMemoryOrDisk(save=True)`` (state.py:114-174): the
        preprocessed (tenant-filtered, typed, as_of-keyed) swap /
        mint-burn frames are persisted as parquet under
        ``save_path/<chain>/<pool>/<table>/`` on first access and read
        straight back on later Pool inits — skipping the raw-table scan +
        filter entirely.

        Staleness: unlike the reference's per-session in-memory cache
        (which can never outlive its data), a saved or cached frame CAN
        go stale when new events land in the raw tables. So, with or
        without ``save_path``, every frame is keyed on the file listing
        of its raw table (``_listed``): a later Pool whose raw listing
        differs rebuilds instead of reusing. ``refresh=True`` forces a
        rebuild of the saved frames regardless. All marker/fingerprint
        IO goes through the Hadoop FS API, so remote (hdfs://, s3a://)
        paths behave the same as local ones."""
        self.spark = spark
        self.chain = chain
        self.pool = pool.lower()  # normalize checksummed addresses (state.py:45)
        self.data_path = data_path
        self.save_path = save_path
        self.refresh = refresh
        self._cache: dict = {"as_of": None}

        # initializePoolFromFactory (reference pool_helpers.py:10-34)
        factory = T.tenant_filter(
            T.read_table(spark, data_path, "factory_pool_created"), chain
        ).filter(F.col("pool") == self.pool)
        rows = factory.select("tickSpacing", "fee", "token0", "token1").collect()
        assert len(rows) != 0, "Pool missing from factory"
        assert len(rows) == 1, "Multiple pools at that address"
        self.ts = int(rows[0]["tickSpacing"])
        self.fee = int(rows[0]["fee"])
        self.token0 = rows[0]["token0"]
        self.token1 = rows[0]["token1"]

        self._swaps: DataFrame | None = None
        self._mb: DataFrame | None = None
        self._tick_clock: DataFrame | None = None
        self._block_clock: tuple[str, DataFrame] | None = None  # a _listed pair
        self.max_supported = -1
        if pull:
            s, m = self.swaps, self.mb
            bounds = [
                s.agg(F.max("block_number")).first()[0],
                m.agg(F.max("block_number")).first()[0],
            ]
            # a pool can have one table empty (initialized but never
            # traded, or never minted): the completeness watermark is then
            # undefined — keep the -1 sentinel instead of min(None, int)
            self.max_supported = min(bounds) if all(b is not None for b in bounds) else -1

    # readFromMemoryOrDisk analog (reference state.py:114-174) ------------
    def _listed(
        self,
        table: str,
        build: Callable[[], DataFrame],
        held: tuple[str, DataFrame] | None = None,
        save: bool = True,
    ) -> tuple[str, DataFrame]:
        """The one freshness rule for every frame this Pool serves: the
        frame ``build`` reads from the raw ``table`` is keyed on that
        table's file listing (fsutil.dir_fingerprint — names/sizes/mtimes,
        no data scan), listed once per call. Returns (listing, frame).

        - ``held``, a pair returned earlier, comes back as is while the
          listing is unchanged; otherwise it is unpersisted and replaced.
        - With ``save_path`` set (and ``save``), the frame is persisted
          under ``save_path/<chain>/<pool>/<table>`` with the listing in a
          ``_RAW_FINGERPRINT`` marker, and read back from there while the
          marker matches and ``refresh`` is off. The location is
          namespaced by (chain, pool): the frames are tenant-FILTERED, so
          a table-only key would serve one pool's events as another's
          when two Pools share a save_path. Spark's file index ignores
          underscore-prefixed files, so the marker never pollutes the
          parquet read.
        - The frame is cached with the listing in its plan: Spark's cache
          matches plans, not file listings, so a no-op filter on the
          listing keeps a frame cached under an older one (another
          Pool's) from being served here, while Pools that see the same
          listing share one cached frame."""
        raw_dir = posixpath.join(self.data_path, table)
        current = fsutil.dir_fingerprint(self.spark, raw_dir)
        if held is not None:
            if held[0] == current:
                return held
            held[1].unpersist()
        if not save or self.save_path is None:
            df = build()
        else:
            loc = posixpath.join(self.save_path, self.chain, self.pool, table)
            marker = posixpath.join(loc, "_RAW_FINGERPRINT")
            fresh = (
                not self.refresh
                and fsutil.read_text(self.spark, marker) == current
                and fsutil.exists(self.spark, posixpath.join(loc, "_SUCCESS"))
            )
            if not fresh:
                # Drop session-level caches for both paths: the raw dir's
                # file-status listing may predate the append that made the
                # save stale, and an earlier Pool's .cache() of the save
                # location would otherwise serve the pre-overwrite rows
                # (CacheManager matches by plan, i.e. by path).
                self.spark.catalog.refreshByPath(raw_dir)
                self.spark.catalog.refreshByPath(loc)
                build().write.mode("overwrite").parquet(loc)
                # Atomic marker: a rebuild that dies between the overwrite
                # and the marker leaves no/old fingerprint -> reads stale ->
                # rebuilt next init. save_path still assumes one writer at a
                # time (concurrent overwrites of the *parquet* can interleave);
                # the marker just guarantees a torn rebuild is never trusted.
                fsutil.write_text_atomic(self.spark, marker, current)
                self.spark.catalog.refreshByPath(loc)
            df = self.spark.read.parquet(loc)
        return current, df.filter(F.lit(current).isNotNull()).cache()

    def _pool_table(self, table: str) -> DataFrame:
        """This pool's rows of a raw event table, typed by
        tables.typed_events and fixed at first access, as a ``v3Pool``
        reads once."""

        def build() -> DataFrame:
            df = T.read_table(self.spark, self.data_path, table)
            return T.typed_events(T.tenant_filter(df, self.chain, self.pool), table)

        return self._listed(table, build)[1]

    @property
    def swaps(self) -> DataFrame:
        if self._swaps is None:
            self._swaps = self._pool_table("pool_swap_events")
        return self._swaps

    @property
    def mb(self) -> DataFrame:
        if self._mb is None:
            self._mb = self._pool_table("pool_mint_burn_events")
        return self._mb

    # point-in-time getters (reference state.py:197-244) ------------------
    def get_property_at(self, as_of: float, column: str):
        return asof_lookup_scalar(self.swaps, "as_of", float(as_of), column)

    def get_tick_at(
        self, as_of: float, revert_on_uninitialized: bool = False
    ) -> int | None:
        """reference state.py:216-229: None (or raise) before the first swap."""
        v = self.get_property_at(as_of, "tick")
        if v is None and revert_on_uninitialized:
            raise UninitializedPoolError("Tick is not initialized")
        return int(v) if v is not None else None

    def get_price_at(
        self, as_of: float, revert_on_uninitialized: bool = False
    ) -> int | None:
        """reference state.py:231-244: None (or raise) before the first swap."""
        v = self.get_property_at(as_of, "sqrtPriceX96")
        if v is None and revert_on_uninitialized:
            raise UninitializedPoolError("Price is not initialized")
        return int(v) if v is not None else None

    # liquidity + swap precompute ------------------------------------------
    def create_liq(self, as_of: float) -> DataFrame:
        return liquidity_distribution(self.mb, as_of)

    def calc_swap_df(self, as_of: float):
        """createSwapDF with the single-slot memo (reference state.py:176-195)."""
        if self._cache.get("as_of") == as_of:
            return self._cache["swap_rows"], self._cache["irv"]
        price = self.get_price_at(as_of)
        assert price is not None, "Pool not initialized"
        sdf = swap_frame(self.create_liq(as_of), self.ts)
        rows = [r.asDict() for r in sdf.collect()]  # O(#ticks) — driver idiom
        irv = in_range_values(rows, float(price), self.ts)
        self._cache.update({"as_of": as_of, "swap_rows": rows, "irv": irv})
        return rows, irv

    def swap_in(self, calldata: dict):
        """reference swap.py:41-212 / state.py:278-299. calldata keys:
        as_of, tokenIn, swapIn, fees (findMax is a documented no-op)."""
        as_of = calldata["as_of"]
        token_in = calldata["tokenIn"]
        amount_in = calldata["swapIn"]
        if isinstance(amount_in, str):
            amount_in = float(amount_in)
        fees = bool(calldata.get("fees", False))
        if self.max_supported != -1 and self.max_supported < as_of:
            print("Mint/burn and swap data are not updated at this date")
        rows, irv = self.calc_swap_df(as_of)
        return swap_in(
            rows,
            irv,
            token_in_is_token1=(token_in.lower() == self.token1),
            amount_in=float(amount_in),
            fee_ppm=self.fee,
            fees=fees,
        )

    def quote_ladder(
        self,
        as_of: float,
        token_in: str,
        amounts: DataFrame,
        amount_col: str = "amount_in",
        fees: bool = False,
    ) -> DataFrame:
        """Batched swapIn: quote every amount in ``amounts`` at one as_of in
        a single narrow plan, against the swap-frame rows ``calc_swap_df``
        already holds for that as_of (its depth array enters the plan as a
        literal). Bit-identical to looping swap_in; ``fees=True`` adds the
        per-tick fee attribution array (scalar fee_dict parity); see
        swap.quote_ladder."""
        rows, irv = self.calc_swap_df(as_of)
        return quote_ladder(
            rows,
            irv,
            token_in_is_token1=(token_in.lower() == self.token1),
            amounts=amounts,
            fee_ppm=self.fee,
            amount_col=amount_col,
            fees=fees,
        )

    # series ----------------------------------------------------------------
    def get_price_series(self, start_time, frequency: str = "6h", gas: bool = False) -> DataFrame:
        """getPriceSeries (reference pool_helpers.py:134-204) from two cached
        clocks (series.block_clock / tick_clock), so a call scans no raw
        table. The tick clock is this pool's, built from ``swaps`` and kept
        as long as they are (it inherits their listing key). The block
        clock is chain-wide, built from the raw swap table and re-keyed on
        its listing every call (``_listed``): an append to the table shows
        on the next call, which rebuilds the clock and unpersists the one
        it replaces."""

        def chain_clock() -> DataFrame:
            df = T.read_table(self.spark, self.data_path, "pool_swap_events")
            return block_clock(T.tenant_filter(df, self.chain))

        self._block_clock = self._listed(
            "pool_swap_events", chain_clock, held=self._block_clock, save=False
        )
        if self._tick_clock is None:
            self._tick_clock = tick_clock(self.swaps).cache()
        return clock_series(
            self._block_clock[1], self._tick_clock, start_time, frequency, gas
        )

    def get_bn_at_date(self, dt) -> int | None:
        return _bn_at_date(self.swaps, dt)
