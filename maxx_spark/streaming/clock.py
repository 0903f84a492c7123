"""Event time for the stateful streaming fns (``cep``, ``resolver``).

Spark hands a null event time to an ``applyInPandasWithState`` fn as
``NaT``, not ``None``, and ``pd.Timestamp(NaT).value`` is -2**63 ns: it
would order before every event and arm timers behind the watermark (which
throws). ``event_ms`` is the one conversion: epoch ms per row, ``None``
for a null, which no state fn orders or counts on its clock.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def event_ms(ts: pd.Series) -> list[int | None]:
    ns = ts.to_numpy("datetime64[ns]")
    return np.where(np.isnat(ns), None, ns.view("int64") // 1_000_000).tolist()
