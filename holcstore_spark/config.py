"""Store descriptors.

The reference freezes per-store configuration (chunk axis, store timezone,
store frequency, sync flag) in a Django metaclass and encodes it into the
physical table name (reference: hostore/models/chunk_timeserie_store.py:94-248).
Here the same contract is a frozen dataclass validated at construction and
persisted as JSON next to the table, so re-opening a store checks the config
matches what the data was written with.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field

import pandas as pd

VALID_CHUNK_AXES = (("year",), ("year", "month"))

#: epoch default for the sync watermark when a store is empty
#: (reference: chunk_timeserie_store.py:288-307 → 2000-01-01)
DEFAULT_WATERMARK = "2000-01-01T00:00:00+00:00"


@dataclass(frozen=True)
class ChunkStoreConfig:
    """Frozen configuration of a chunked time-series store.

    - ``keys``: ordered business-key column names ("indexation axes").
    - ``freq``: pandas offset alias of the dense grid step (e.g. '1h',
      '15min'); validated through ``pd.to_timedelta``.
    - ``tz``: store timezone — chunk boundaries snap to *local* year/month
      starts in this zone; the pandas edge returns indexes in this zone.
    - ``chunk_axis``: ('year',) or ('year', 'month') — the calendar
      partitioning of the physical table.
    - ``allow_sync``: when True the store is a sync replica target and
      guards against writes that would break the change feed.

    The store's files are immutable and governed by a file-manifest
    transaction log (``sources/txlog.py``) — atomic data+meta commits,
    optimistic multi-writer concurrency, manifest-stats file skipping.
    """

    keys: tuple[str, ...]
    freq: str = "1h"
    tz: str = "Europe/Paris"
    chunk_axis: tuple[str, ...] = ("year", "month")
    allow_sync: bool = False
    key_types: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        object.__setattr__(self, "keys", tuple(self.keys))
        object.__setattr__(self, "chunk_axis", tuple(self.chunk_axis))
        if self.chunk_axis not in VALID_CHUNK_AXES:
            raise ValueError(
                f"chunk_axis must be one of {VALID_CHUNK_AXES}, got {self.chunk_axis}"
            )
        # raises if not a valid fixed frequency
        freq_td = pd.to_timedelta(_fix_freq(self.freq))
        if freq_td <= pd.Timedelta(0):
            raise ValueError(f"freq must be positive, got {self.freq}")
        reserved = {"ts", "value", "chunk_index", "updated_at", "is_deleted",
                    "start_ts", "n_points", "op_id"}
        bad = reserved.intersection(self.keys)
        if bad:
            raise ValueError(f"key columns collide with reserved names: {sorted(bad)}")

    @property
    def freq_timedelta(self) -> pd.Timedelta:
        return pd.to_timedelta(_fix_freq(self.freq))

    @property
    def freq_seconds(self) -> int:
        secs = self.freq_timedelta.total_seconds()
        if secs != int(secs):
            raise ValueError(f"sub-second frequencies not supported: {self.freq}")
        return int(secs)

    # -- persistence ---------------------------------------------------
    def save(self, path: str) -> None:
        """Idempotent + atomic + FIRST-wins: concurrent store opens on
        the same path (multi-writer) must never observe a
        truncated config, and two racing CREATORS with different
        configs must not last-writer-win — the claim goes through
        os.link (never overwrites) and the loser validates against what
        actually landed, raising the same error check_compatible
        would."""
        from holcstore_spark.sources.io_util import claim_file_first_wins

        os.makedirs(path, exist_ok=True)
        target = os.path.join(path, "_store_config.json")
        payload = json.dumps(asdict(self), indent=1)
        landed = claim_file_first_wins(target, payload)
        if landed != payload:
            # formatting may differ for a semantically identical config
            existing = self.load(path)
            if existing != self:
                raise ValueError(
                    f"store at {path} was created with {existing}, "
                    f"incompatible with requested {self}"
                )

    @classmethod
    def load(cls, path: str) -> "ChunkStoreConfig":
        with open(os.path.join(path, "_store_config.json")) as f:
            raw = json.load(f)
        raw["keys"] = tuple(raw["keys"])
        raw["chunk_axis"] = tuple(raw["chunk_axis"])
        # stores created while the layout was selectable saved an "acid"
        # flag; there is one layout now
        raw.pop("acid", None)
        return cls(**raw)

    def check_compatible(self, path: str) -> None:
        """Opening an existing store with different frozen config is an error
        (mirrors the reference's frozen-after-migration guard,
        chunk_timeserie_store.py:173-177)."""
        cfg_file = os.path.join(path, "_store_config.json")
        if os.path.exists(cfg_file):
            existing = self.load(path)
            if existing != self:
                raise ValueError(
                    f"store at {path} was created with {existing}, "
                    f"incompatible with requested {self}"
                )


def _fix_freq(freq: str) -> str:
    """Normalize a pandas offset alias so ``pd.to_timedelta`` accepts it
    ('h' → '1h'; reference: hostore/utils/timeseries.py:228-246)."""
    freq = str(freq)
    if freq and not freq[0].isdigit():
        return "1" + freq
    return freq
