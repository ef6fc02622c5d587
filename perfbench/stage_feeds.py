#!/usr/bin/env python3
"""Stages the ingest workload's two streaming feeds from a generated lake.

    python3 perfbench/stage_feeds.py <lakeDir> <outDir> <files>

docfeed/: the documents table plus ingest_ts, a monotone event clock of
one document per second by doc_id (none falls behind the curated
stream's watermark). evfeed/: the events table as ContactEvent rows
(contact_id, event_id, event_ts, event_type). Each feed is split into
<files> parquet files by ascending id, so a file-source stream reads
them in id order.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def split(table, key, out, files):
    os.makedirs(out)
    table = table.sort_by(key)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out, f"part-{i:05d}.parquet"))


def main(lake, out, files):
    docs = pq.read_table(os.path.join(lake, "documents.parquet"))
    secs = pc.add(docs["doc_id"], 1704067200)
    ts = pc.multiply(secs, 1_000_000).cast(pa.timestamp("us", tz="UTC"))
    split(docs.append_column("ingest_ts", ts), "doc_id", os.path.join(out, "docfeed"), files)

    ev = pq.read_table(os.path.join(lake, "events.parquet"))
    feed = pa.table({
        "contact_id": ev["user_id"],
        "event_id": ev["event_id"],
        "event_ts": ev["ts"].cast(pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "event_type": ev["event_type"]})
    split(feed, "event_id", os.path.join(out, "evfeed"), files)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], int(sys.argv[3]))
