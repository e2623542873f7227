from . import swap_math
from .liquidity import liquidity_distribution, liquidity_timeline
from .pool import Pool
from .positions import POSITION_COLUMNS, nfp_positions
from .series import (
    bn_at_date,
    liquidity_price_frames,
    price_series,
    tick_to_price,
    tick_twap,
)
from .swap import (
    InRangeValues,
    in_range_values,
    quote_ladder,
    quote_ladder_multi,
    swap_depth,
    swap_frame,
    swap_in,
)

__all__ = [
    "InRangeValues",
    "Pool",
    "bn_at_date",
    "in_range_values",
    "liquidity_distribution",
    "liquidity_timeline",
    "nfp_positions",
    "POSITION_COLUMNS",
    "liquidity_price_frames",
    "price_series",
    "tick_twap",
    "quote_ladder",
    "quote_ladder_multi",
    "swap_depth",
    "swap_frame",
    "swap_in",
    "swap_math",
    "tick_to_price",
]
