"""The ``live_stream`` input shape and landing schedule, shared by the
feeder and the worker.

No late, duplicate or DELETE envelopes: the pairs operator collapses a
duplicate turn only while it is still buffered, so a replayed turn landing
after its pair was emitted would make the output depend on where batch
boundaries fall (the same reason ``late_fraction`` is 0). Out-of-order
arrival inside the watermark stays on. About 6.8k turns over ~28 h of
event time, so every landed file carries over an hour of event time and
sessions close within the run.
"""

from __future__ import annotations

from kafka2iceberg_spark.gen import GenConfig

#: files the whole stream is rendered into (about 300 envelopes each)
FILES = 24
#: files landed at once before the schedule starts (the cold first batch)
WARM_FILES = 2
#: one file every INTERVAL_S seconds: about 4 files per ~15 s pairs
#: trigger, half of the 8 files a trigger may take
INTERVAL_S = 4.0


def live_config(seed: int) -> GenConfig:
    return GenConfig(
        n_convs=150, turns_per_conv=40, mega_convs=2, mega_turns=400,
        late_fraction=0.0, dup_fraction=0.0, delete_fraction=0.0, seed=seed,
    )
