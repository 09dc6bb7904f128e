"""R2/R3 — hot and hot-cold replay as Structured Streaming.

Reference semantics (streams.clj:368-405): ``hot`` tails the live feed only;
``hot-cold`` replays history from ``from`` then switches to live without gap
or duplicate. Photon needs a fragile catch-up loop for the switch
(streams.clj:374-391, re-polling the DB until the lazy seq is exhausted);
a Structured Streaming file source over the append-only events table IS
hot-cold natively — every already-present file is processed first, new
files as they land, exactly-once via checkpoint. Hot-only = hot-cold with
``from`` = the current max order_id (subscription instant).

No silent drop-oldest: photon's sliding-buffer 1 drops events for slow
hot subscribers (streams.clj:70-72); we deliberately do not reproduce
that. Each trigger takes every new file, so micro-batches never
interleave order_ids — the ordered-fold guarantee of
photon_spark.streaming.stateful.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from photon_spark.events import coerce_order_bound, ALL_STREAMS, EventStore


def read_hot_cold(store: EventStore, stream_name: str = ALL_STREAMS,
                  from_: int = 0) -> DataFrame:
    """R3: streaming DataFrame that replays all persisted events (from the
    ``from_`` bound) then keeps tailing new appends."""
    reader = store.spark.readStream.schema(store._disk_schema())
    # same pluggable backend as the batch path (file source streams any
    # of the store formats; _decode restores the struct the flat CSV
    # backend carries as JSON)
    # bind the CURRENT generation's directory (the rewrite paths move
    # data between gen dirs; a mid-subscription rewrite is already
    # documented unsafe for the file source — see EventStore.compact)
    df = store._decode(store._read_opts(reader).load(store._data_dir()))
    if stream_name != ALL_STREAMS:
        df = df.where(F.col("stream_name") == stream_name)
    if from_:
        # same epoch-ms coercion as the batch twin read_cold — a time
        # bound must mean the same thing on both replay paths
        df = df.where(F.col("order_id") >= coerce_order_bound(from_))
    return df


def read_hot(store: EventStore, stream_name: str = ALL_STREAMS) -> DataFrame:
    """R2: live tail only — hot-cold from the current high-water mark
    (streams.clj:399-405)."""
    return read_hot_cold(store, stream_name,
                         from_=store.max_order_id() + 1)
