"""Command-line entry points mirroring the reference's runnable scripts.

The reference ships three CLIs a pipeline operator actually runs:

* ``bulk_fetch.py --start --end --batch_size``
  (mastercontrol_pipeline/data_fetch_system/bulk_fetch.py:29-36)
* ``incremental_fetch.py`` (6-hour epoch windows with a completeness
  lag; incremental_fetch.py:20-22,129-155)
* ``data_load.py --bulk --incremental --report``
  (data_load_system/data_load.py:10-37)

This module is the switch-over surface: the same flags drive the
Spark-native pipelines. Differences are the engine's, not the
operator's:

* The fetch fans out ACROSS EXECUTORS (`fetch_distributed` page-range
  tasks) instead of one sequential requests loop; `--batch-size` maps
  to pages-per-task (the unit of retry/checkpoint), not a driver loop
  stride.
* Transport is injected as ``module.path:function`` fetchers (same
  contract as sources/rest_datasource), so dev/test runs use the
  deterministic fixture transport and production passes an HTTP
  fetcher; the CLI itself never imports `requests`.
* State lives where the operator expects it: a JSON checkpoint, an
  appendable status audit table, and a window log — read/written by
  sources/state + sinks/audit, not bespoke CSV rewrites.

Usage::

    python -m mc_ns_data_pipeline_spark.cli fetch-bulk \
        --n-pages 12 --start 0 --end 60000 \
        --captures-fetcher mc_ns_data_pipeline_spark.sources.rest_fixture:fetch_page \
        --meta-fetcher ...:batch_meta_records \
        --structures-fetcher ...:structure_records \
        --out-dir /data/exchange --state-dir /data/state

    python -m mc_ns_data_pipeline_spark.cli fetch-incremental \
        --now-epoch 1741630000 ... (same fetcher/state flags)

    python -m mc_ns_data_pipeline_spark.cli load \
        --bulk --input-dir /data/exchange --warehouse-dir /data/warehouse
    python -m mc_ns_data_pipeline_spark.cli load --report \
        --warehouse-dir /data/warehouse --report-dir /data/reports
"""

from __future__ import annotations

import argparse
import importlib
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FIRST_RUN_EPOCH = 1741564801  # incremental_fetch.py:22
SIX_HOURS = 6 * 3600


def _resolve(path: str):
    """'module.path:function' -> callable (the rest_datasource contract)."""
    mod, _, fn = path.partition(":")
    return getattr(importlib.import_module(mod), fn)


def _fetchers(args) -> dict:
    """The three transport callables for a fetch run.

    ``--transport requests`` (or TRANSPORT=requests) builds the
    production HTTP client from BASE_URL/API_TOKEN/API_COOKIE ON THE
    DRIVER (sources/http_transport.py — reference api_client.py:14-37);
    the resulting `HttpFetcher` instances carry their config, so
    executors need no environment. The default keeps the
    module:function injection contract for the three --*-fetcher flags.
    """
    if getattr(args, "transport", None) == "requests":
        from mc_ns_data_pipeline_spark.sources.http_transport import (
            CAPTURES_PATH,
            META_PATH,
            STRUCTURES_PATH,
            fetcher_from_env,
        )
        from mc_ns_data_pipeline_spark.sources.rest import fetch_paginated

        meta_f = fetcher_from_env("META_PATH", META_PATH)
        structures_f = fetcher_from_env("STRUCTURES_PATH", STRUCTURES_PATH)
        return {
            "captures": fetcher_from_env("CAPTURES_PATH", CAPTURES_PATH),
            "meta_records": lambda: fetch_paginated(meta_f),
            "structures_records": lambda: fetch_paginated(structures_f),
        }
    return {
        "captures": _resolve(args.captures_fetcher),
        "meta_records": _resolve(args.meta_fetcher),
        "structures_records": _resolve(args.structures_fetcher),
    }


def _records_df(spark: SparkSession, records_fn, schema) -> DataFrame:
    from mc_ns_data_pipeline_spark.sources.rest import records_to_df

    return records_to_df(spark, list(records_fn()), schema)


def _session(app_name: str) -> SparkSession:
    """get_spark + executor importability: under a pre-existing foreign
    session (getOrCreate returns it unchanged), the fetch fan-out's
    executor workers still need this package shipped (the fetcher paths
    resolve ON the executor — see ensure_package_on_executors)."""
    from mc_ns_data_pipeline_spark.session import (
        ensure_package_on_executors,
        ensure_read_confs,
        get_spark,
    )

    spark = get_spark(app_name)
    ensure_read_confs(spark)
    ensure_package_on_executors(spark)
    return spark


def _fetch_exchange(spark: SparkSession, args,
                    id_lo: int | None = None,
                    id_hi: int | None = None,
                    epoch_lo: int | None = None,
                    epoch_hi: int | None = None,
                    quarantine_dir: str | None = None):
    """Shared fetch+merge: paginated captures fan-out (id-bounded
    BEFORE the merge, like the reference's id loop), single-resource
    dims, the 14-column contract out. Returns (exchange, captures).

    The fetched captures are persisted: delivery and the status/
    checkpoint pass are separate actions, and an unpinned lineage would
    hit the remote API twice — worse, a record appearing only in the
    second scan would advance the checkpoint without ever being
    delivered, losing it forever.

    With epoch bounds, rows whose raw dateTime does not parse are not
    silently dropped: they go to `quarantine_dir` as dead letters (the
    window high-water mark advances past them, so an invisible filter
    would lose them with no trace).
    """
    from mc_ns_data_pipeline_spark.pipelines.fetch import merge_lot_data
    from mc_ns_data_pipeline_spark.schemas import (
        BATCH_RECORDS_SCHEMA,
        DATA_CAPTURES_SCHEMA,
        STRUCTURES_SCHEMA,
    )
    from mc_ns_data_pipeline_spark.sources.rest import fetch_distributed

    fetchers = _fetchers(args)
    captures = fetch_distributed(
        spark,
        n_pages=args.n_pages,
        fetch_page=fetchers["captures"],
        schema=DATA_CAPTURES_SCHEMA,
        pages_per_task=args.batch_size,
        # O3 pushdown — the reference sends sortColumn=create_date so
        # the API pre-sorts (data_processor.py:99-105); None when the
        # operator asks for no ordering, keeping plain fetchers valid
        sort_column=getattr(args, "sort_column", None),
        sort_direction=getattr(args, "sort_direction", None),
    )
    if id_lo is not None:
        captures = captures.filter(F.col("productionRecordId") >= id_lo)
    if id_hi is not None:
        captures = captures.filter(F.col("productionRecordId") <= id_hi)
    if epoch_lo is not None or epoch_hi is not None:
        # Window-filter on the RAW ISO dateTime before the merge — the
        # merge reformats it to non-padded Eastern, which no longer
        # parses as a timestamp (and the reference windows on the raw
        # API timestamp too, incremental_fetch.py:143-155).
        from mc_ns_data_pipeline_spark.quality import (
            split_valid,
            write_dead_letter,
        )

        epoch = F.unix_timestamp(F.try_to_timestamp(F.col("dateTime")))
        captures = captures.persist()
        parseable, bad = split_valid(
            captures, {"parseable_datetime": epoch.isNotNull()}
        )
        if quarantine_dir is not None:
            write_dead_letter(bad, quarantine_dir, mode="overwrite")
        captures = parseable
        if epoch_lo is not None:
            captures = captures.filter(epoch >= epoch_lo)
        if epoch_hi is not None:
            captures = captures.filter(epoch < epoch_hi)
    captures = captures.persist()
    meta = _records_df(spark, fetchers["meta_records"],
                       BATCH_RECORDS_SCHEMA)
    structures = _records_df(
        spark, fetchers["structures_records"], STRUCTURES_SCHEMA
    )
    return merge_lot_data(captures, meta, structures), captures


def _require_page_coverage(args, what: str) -> int | None:
    """Coverage gate: refuse to deliver + advance state when --n-pages
    did not reach the end of the dataset. Pagination promises no
    ordering against ids or timestamps, so an unscanned page may hold
    rows inside the span about to be marked processed — advancing the
    checkpoint/window log past them would lose them silently and
    forever (the exact failure the checkpoint design exists to
    prevent). One extra driver-side page probe; returns an exit code
    or None when covered.
    """
    from mc_ns_data_pipeline_spark.sources.rest import pages_exhausted

    if pages_exhausted(_fetchers(args)["captures"], args.n_pages):
        return None
    print(
        f"{what}: page budget --n-pages {args.n_pages} did not cover "
        f"the dataset (page {args.n_pages} is non-empty); refusing to "
        "deliver and advance state past unfetched records. "
        "Raise --n-pages and rerun."
    )
    return 2


def cmd_fetch_bulk(args) -> int:
    """bulk_fetch.py parity: id-bounded extract, checkpoint resume,
    per-lot CSV delivery, status audit."""
    from mc_ns_data_pipeline_spark.sinks.audit import append_status
    from mc_ns_data_pipeline_spark.sinks.files import write_per_lot
    from mc_ns_data_pipeline_spark.sources.state import (
        read_checkpoint,
        write_checkpoint,
    )

    spark = _session("fetch-bulk")
    os.makedirs(args.state_dir, exist_ok=True)
    ckpt_path = os.path.join(args.state_dir, "checkpoint.json")
    resume_from = max(
        args.start, read_checkpoint(ckpt_path)["last_processed_id"] + 1
    )

    rc = _require_page_coverage(args, "fetch-bulk")
    if rc is not None:
        return rc
    exchange, captures = _fetch_exchange(
        spark, args, id_lo=resume_from, id_hi=args.end
    )
    # Exactly-once delivery via a batch-scoped subdirectory: the batch
    # name is a pure function of the resume point, so a rerun after a
    # crash-between-delivery-and-checkpoint overwrites ITS OWN output
    # instead of appending a duplicate copy (plain append would be
    # at-least-once). `load` reads recursively, so batch subdirs are
    # transparent to the consumer.
    batch_dir = os.path.join(args.out_dir, f"batch_from_{resume_from}")
    write_per_lot(exchange, batch_dir, mode="overwrite")

    ids = captures.select("productionRecordId").distinct()
    processed = [
        {"production_record_id": int(r["productionRecordId"]),
         "lot_number": None, "status": "Success", "reason": None}
        for r in ids.collect()
    ]
    if processed:
        append_status(
            spark, os.path.join(args.state_dir, "status_log"), processed
        )
        last = max(p["production_record_id"] for p in processed)
        write_checkpoint(
            ckpt_path, last, datetime.now(timezone.utc).isoformat()
        )
    print(f"fetch-bulk: {len(processed)} records -> {args.out_dir}")
    return 0


def cmd_fetch_incremental(args) -> int:
    """incremental_fetch.py parity: process every COMPLETE 6-hour epoch
    window past the window log's high-water mark, honoring the 6-hour
    completeness lag; append the processed windows to the log."""
    from mc_ns_data_pipeline_spark.schemas import WINDOW_LOG_SCHEMA
    from mc_ns_data_pipeline_spark.sinks.files import write_per_lot
    from mc_ns_data_pipeline_spark.sources.state import (
        last_processed_epoch,
    )

    spark = _session("fetch-incremental")
    os.makedirs(args.state_dir, exist_ok=True)
    window_log = os.path.join(args.state_dir, "window_log.csv")
    start_epoch = last_processed_epoch(
        spark, window_log, FIRST_RUN_EPOCH
    )
    now = args.now_epoch or int(datetime.now(timezone.utc).timestamp())
    horizon = now - SIX_HOURS  # completeness lag
    windows = []
    w = start_epoch
    while w + SIX_HOURS <= horizon:
        windows.append((w, w + SIX_HOURS))
        w += SIX_HOURS
    if not windows:
        print("fetch-incremental: no complete windows to process")
        return 0

    lo, hi = windows[0][0], windows[-1][1]
    rc = _require_page_coverage(args, "fetch-incremental")
    if rc is not None:
        return rc
    exchange, captures = _fetch_exchange(
        spark, args, epoch_lo=lo, epoch_hi=hi,
        quarantine_dir=os.path.join(
            args.state_dir, "dead_letter", f"windows_from_{lo}"
        ),
    )
    # Delivery dir keyed on the resume point ALONE (not on hi): hi is
    # a function of wall-clock now, so a crash-between-delivery-and-
    # log rerun at a later time would write a second, overlapping span
    # dir next to the orphaned first one and `load` would ingest the
    # shared windows twice. Keyed on lo, the rerun's superset span
    # overwrites its own previous output — exactly-once, like
    # fetch-bulk's batch_from_{resume}. The quarantine dir is scoped
    # the same way (overwrite, not append) for the same reason.
    span_dir = os.path.join(args.out_dir, f"windows_from_{lo}")
    write_per_lot(exchange, span_dir, mode="overwrite")

    def iso(epoch: int) -> str:
        return datetime.fromtimestamp(epoch, timezone.utc).isoformat()

    log_rows = spark.createDataFrame(
        [(iso(s), iso(e), s, e) for s, e in windows],
        WINDOW_LOG_SCHEMA,
    )
    header = not os.path.exists(window_log)
    log_rows.toPandas().to_csv(
        window_log, mode="a", header=header, index=False
    )
    print(
        f"fetch-incremental: {len(windows)} windows "
        f"[{lo}, {hi}) -> {args.out_dir}"
    )
    return 0


def cmd_load(args) -> int:
    """data_load.py parity: --bulk / --incremental / --report."""
    from mc_ns_data_pipeline_spark.pipelines.load import load_exchange
    from mc_ns_data_pipeline_spark.schemas import LOT_CSV_SCHEMA
    from mc_ns_data_pipeline_spark.sinks.audit import recent_report
    from mc_ns_data_pipeline_spark.sinks.files import write_report

    if args.bulk and args.incremental:
        raise SystemExit(
            "load: --bulk and --incremental are mutually exclusive "
            "(append vs per-lot replace semantics)"
        )
    if (args.bulk or args.incremental) and not args.input_dir:
        raise SystemExit("load: --bulk/--incremental require --input-dir")
    if args.report and not args.report_dir:
        raise SystemExit("load: --report requires --report-dir")

    spark = _session("data-load")
    did_anything = False
    if args.bulk or args.incremental:
        exchange = (
            spark.read.option("header", True)
            .option("recursiveFileLookup", True)
            .schema(LOT_CSV_SCHEMA)
            .csv(args.input_dir)
        )
        load_exchange(
            spark, exchange, args.warehouse_dir,
            incremental=args.incremental,
        )
        did_anything = True
    if args.report:
        lot_data = spark.read.parquet(f"{args.warehouse_dir}/lot_data")
        write_report(
            [recent_report(lot_data, ts_col="created_at")],
            args.report_dir,
        )
        did_anything = True
    if getattr(args, "to_jdbc", False):
        # Mirror the parquet warehouse to the remote JDBC warehouse via
        # truncate-reload (the reference's refresh pattern: parquet is
        # the source of truth, the remote copy is fully rebuilt but its
        # DDL/indexes survive — inventory_data.py:83-106). Credentials
        # come from DB_CONFIG (settings.py parity) or --jdbc-url.
        from mc_ns_data_pipeline_spark.config import (
            env_config,
            jdbc_properties,
        )
        from mc_ns_data_pipeline_spark.sinks.jdbc import (
            write_truncate_reload,
        )

        props = jdbc_properties(env_config()) or {}
        url = args.jdbc_url or props.pop("url", None)
        if not url:
            raise SystemExit(
                "load --to-jdbc: set --jdbc-url or DB_CONFIG "
                '(JSON with a "url" key)'
            )
        props.pop("url", None)
        for table in ("lots", "lot_data"):
            df = spark.read.parquet(f"{args.warehouse_dir}/{table}")
            write_truncate_reload(
                df, url, table, properties=props or None,
                num_connections=4,
            )
        did_anything = True
    if not did_anything:
        print("load: nothing to do (pass --bulk, --incremental or --report)")
        return 2
    return 0


def cmd_table(args) -> int:
    """Versioned-table lifecycle from the command line
    (sinks/versioned.py): publish / append / COW merge / GDPR delete /
    reader-safe compaction / refcounted vacuum / lineage listing /
    durable-cursor incremental consumption. The operational surface a
    pipeline operator needs once tables live as MVCC snapshots instead
    of staged-swap directories."""
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    def need(flag, value):
        if value is None:
            raise SystemExit(f"table {args.op}: {flag} is required")
        return value

    if getattr(args, "catalog", None):
        # name-addressed mode: --table is a catalog entry, resolved to
        # its root through one tiny JSON read — every op below keeps
        # its path-addressed shape
        from mc_ns_data_pipeline_spark.sinks import table_catalog as TC

        try:
            args.table = TC.load_table(args.catalog, args.table)
        except TC.NoSuchTableError:
            raise SystemExit(
                f"table {args.op}: {args.table!r} not in catalog "
                f"{args.catalog} (catalog list to inspect)")

    # Validate op-specific required flags BEFORE any Spark session —
    # a missing flag must fail in milliseconds, not after JVM startup.
    if args.op in ("write", "append", "merge", "delete-keys"):
        need("--input", args.input)
    if args.op in ("merge", "delete-keys"):
        need("--key", args.key)
    if args.op == "consume":
        need("--cursor", args.cursor)
        need("--out-dir", args.out_dir)
    if args.op == "view-refresh":
        need("--view", args.view)
        need("--group-cols", args.group_cols)
        need("--sum-cols", args.sum_cols)

    if args.op == "rename-col":  # metadata-only: no Spark session
        old_new = need("--cols", args.cols).split(":")
        if len(old_new) != 2:
            raise SystemExit("--cols OLD:NEW")
        snap = V.rename_column(args.table, old_new[0], old_new[1])
        print(f"rename-col: published {snap} "
              f"({old_new[0]} -> {old_new[1]})")
        return 0
    if args.op == "drop-col":  # metadata-only: no Spark session
        snap = V.drop_column(args.table, need("--cols", args.cols))
        print(f"drop-col: published {snap} ({args.cols})")
        return 0
    if args.op == "set-spec":  # metadata-only: no Spark session
        spec = ([x.strip() for x in args.partition_spec.split(";")
                 if x.strip()] if args.partition_spec else None)
        snap = V.set_partition_spec(args.table, spec)
        print(f"set-spec: published {snap} "
              f"({'dropped' if not spec else ';'.join(spec)})")
        return 0
    if args.op == "tag":  # metadata-only: no Spark session
        snap = V.tag_snapshot(args.table, need("--name", args.name),
                              snapshot=args.snapshot)
        print(f"tag {args.name} -> {snap}")
        return 0
    if args.op == "refs":
        cur = V.current_snapshot(args.table)
        print(f"  CURRENT -> {cur}")
        for name, snap in V.list_refs(args.table).items():
            print(f"  {name} -> {snap}")
        return 0
    if args.op == "publish":
        snap = V.publish_ref(args.table, need("--name", args.name))
        print(f"published {args.name}: CURRENT -> {snap}")
        return 0
    if args.op == "merge-ref":  # fast-forward or rebase-replay
        snap = V.merge_ref(args.table, need("--name", args.name))
        print(f"merged {args.name}: CURRENT -> {snap}")
        return 0
    if args.op == "rollback":
        snap = V.rollback_table(
            args.table, need("--snapshot",
                             args.snapshot or args.name))
        print(f"rolled back: CURRENT -> {snap}")
        return 0
    if args.op == "history":  # metadata-only: no Spark session
        cur = V.current_snapshot(args.table)
        for s in V.list_snapshots(args.table):
            man = V.read_manifest(args.table, s)
            star = "*" if s == cur else " "
            # .get defaults throughout: pre-'op' legacy manifests must
            # list, not crash — history is the tool you reach for when
            # a table looks wrong.
            dels = man.get("delete_files") or []
            print(f"{star} {s} op={man.get('op', '?'):9s} "
                  f"rows={man.get('rows', '?'):>12} "
                  f"files={len(man.get('files', [])):>5} "
                  f"reused={man.get('reused_files', 0):>5} "
                  f"dels={len(dels):>3} "
                  f"txn={man.get('txn_id') or '-'}")
        return 0
    if args.op == "vacuum":  # filesystem-only: no Spark session
        out = V.vacuum_snapshots(args.table, keep=args.keep,
                                 min_age_seconds=args.min_age_seconds)
        print(f"vacuum: reaped {len(out['snapshots'])} snapshots, "
              f"{out['files']} pool files")
        return 0

    spark = _session("table-lifecycle")
    if args.op == "optimize":
        out = V.optimize_table(
            spark, args.table, sort_col=args.sort_col,
            target_file_rows=args.target_file_rows,
            vacuum_keep=args.keep,
            vacuum_min_age_seconds=args.min_age_seconds)
        did = (f"compacted ({out['reason']})" if out["compacted"]
               else "no compaction needed")
        print(f"optimize: {did}; vacuum reaped "
              f"{len(out['vacuumed']['snapshots'])} snapshots, "
              f"{out['vacuumed']['files']} files")
        return 0
    if args.op == "view-refresh":
        from mc_ns_data_pipeline_spark.sinks import matview as MV

        res = MV.refresh_aggregate_view(
            spark, args.table, args.view,
            [c.strip() for c in args.group_cols.split(",") if c.strip()],
            [c.strip() for c in args.sum_cols.split(",") if c.strip()])
        print(f"view-refresh: {res['mode']} "
              f"{res['from'] or '-'} -> {res['to']}")
        return 0
    if args.op == "compact":
        snap = V.compact_snapshot(spark, args.table,
                                  sort_col=args.sort_col,
                                  target_files=args.target_files)
    elif args.op == "consume":
        out_dir = args.out_dir

        def land(df, info):
            # Keyed on the FROM snapshot — stable across retries: a
            # replay after a crash-before-cursor-advance re-consumes
            # [from .. newer-until], a superset of the crashed range,
            # and the overwrite REPLACES the same directory instead of
            # leaving a duplicate sibling (keying on 'to' would write
            # a new dir whenever a commit landed between crash and
            # retry, double-counting the overlap downstream).
            df.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"inc-{info['from'] or 'bootstrap'}"))

        res = V.consume_appends(spark, args.table, args.cursor, land)
        print(f"consume: {res['mode']} {res['from']} -> {res['to']}")
        return 0
    else:
        df = spark.read.parquet(args.input)
        if args.branch and not (
                args.op == "append"
                or (args.op in ("merge", "delete-keys") and args.mor)):
            raise SystemExit(  # fail fast: silently publishing to
                f"table {args.op}: --branch requires a stageable "
                "op (append, merge --mor, delete-keys --mor) — "
                "copy-on-write ops cannot quarantine")  # CURRENT would
            # defeat the write-audit-publish contract the flag promises
        if args.op == "write":
            def col_list(raw, flag):
                if not raw:
                    return None
                cols = [c.strip() for c in raw.split(",") if c.strip()]
                missing = [c for c in cols if c not in df.columns]
                if missing:  # fail fast: silent typos would persist
                    raise SystemExit(  # junk metadata cols forever
                        f"table write: {flag} {missing} not in "
                        f"input columns {df.columns}")
                return cols

            spec = ([s.strip() for s in
                     args.partition_spec.split(";") if s.strip()]
                    if args.partition_spec else None)
            snap = V.write_snapshot(
                df, args.table,
                stats_cols=col_list(args.stats_cols, "--stats-cols"),
                bloom_cols=col_list(args.bloom_cols, "--bloom-cols"),
                partition_spec=spec)
        elif args.op == "append":
            snap = V.append_snapshot(df, args.table, branch=args.branch,
                                     txn_id=args.txn_id)
        elif args.op == "merge" and args.mor:
            snap = V.merge_snapshot_mor(spark, df, args.table,
                                        args.key, txn_id=args.txn_id,
                                        branch=args.branch)
        elif args.op == "merge":
            snap = V.merge_snapshot(spark, df, args.table, args.key,
                                    txn_id=args.txn_id)
        elif args.mor:  # delete-keys, merge-on-read shape
            snap = V.delete_keys_mor(spark, args.table, args.key, df,
                                     branch=args.branch)
        else:  # delete-keys, copy-on-write shape
            snap = V.delete_keys_snapshot(spark, args.table,
                                          args.key, df)
    print(f"{args.op}: published {snap}")
    return 0


def cmd_catalog(args) -> int:
    """Catalog verbs (sinks/table_catalog.py): durable name →
    table-root mapping above the versioned-table layer. All
    metadata-only — no Spark session, milliseconds at any estate
    size."""
    from mc_ns_data_pipeline_spark.sinks import table_catalog as TC

    if args.op in ("create", "resolve", "rename",
                   "drop") and not args.name:
        raise SystemExit(f"catalog {args.op}: --name is required")
    if args.op == "create":
        root = TC.create_table(args.catalog, args.name,
                               root=args.root)
        kind = "external" if args.root else "managed"
        print(f"created {args.name} ({kind}) -> {root}")
    elif args.op == "list":
        for name, root in TC.list_tables(args.catalog,
                                         args.namespace).items():
            print(f"  {name} -> {root}")
    elif args.op == "resolve":
        print(TC.load_table(args.catalog, args.name))
    elif args.op == "rename":
        if not args.to:
            raise SystemExit("catalog rename: --to is required")
        root = TC.rename_table(args.catalog, args.name, args.to)
        print(f"renamed {args.name} -> {args.to} (root {root})")
    elif args.op == "drop":
        TC.drop_table(args.catalog, args.name, purge=args.purge)
        print(f"dropped {args.name}"
              + (" (purged)" if args.purge else ""))
    elif args.op == "pin-group":
        if not args.group or not args.names:
            raise SystemExit(
                "catalog pin-group: --group and --names required")
        snaps = TC.pin_current_group(args.catalog, args.group,
                                     args.names.split(","))
        for name, snap in sorted(snaps.items()):
            print(f"  {name} @ {snap}")
    elif args.op == "group-show":
        if not args.group:
            raise SystemExit("catalog group-show: --group required")
        for name, snap in sorted(
                TC.group_snapshots(args.catalog, args.group).items()):
            print(f"  {name} @ {snap}")
    elif args.op == "drop-group":
        if not args.group:
            raise SystemExit("catalog drop-group: --group required")
        TC.drop_group(args.catalog, args.group)
        print(f"dropped group {args.group}")
    return 0


def cmd_catalog_serve(args) -> int:
    """Serve the REST catalog (sinks/catalog_service.py) in the
    foreground. ``--check`` binds, prints the URL, and exits —
    the health-probe / test shape."""
    from mc_ns_data_pipeline_spark.sinks import catalog_service as CS

    srv = CS.serve_catalog(args.catalog, host=args.host,
                           port=args.port)
    host, port = srv.server_address[:2]
    print(f"catalog service at http://{host}:{port} "
          f"(root {args.catalog})")
    if args.check:
        srv.shutdown()
        return 0
    import time as _t
    try:
        while True:
            _t.sleep(3600)
    except KeyboardInterrupt:
        srv.shutdown()
    return 0


def cmd_txn_recover(args) -> int:
    """Resolve sealed-but-unfinished multi-table transactions
    (sinks/txn.py recover_txns) — run at process start, before new
    writers. Metadata-only."""
    from mc_ns_data_pipeline_spark.sinks import txn as T

    if not args.log and not args.catalog:
        raise SystemExit("txn-recover: --log or --catalog required")
    log = args.log or os.path.join(args.catalog, "_txns")
    rep = T.recover_txns(log)
    for kind in ("completed", "rolled_back", "broken"):
        for tx in rep[kind]:
            print(f"  {kind}: {tx}")
    if rep["broken"]:
        print(f"{len(rep['broken'])} transaction(s) BROKEN — partial "
              "visibility happened; inspect the intent files in "
              f"{log}")
        return 1
    print(f"recovered {len(rep['completed'])}, rolled back "
          f"{len(rep['rolled_back'])}")
    return 0


def cmd_cdc_apply(args) -> int:
    """Drain a versioned table's change feed onto a replica — and,
    with ``--view``, an incrementally-maintained aggregate view —
    through the public capped runners
    (streaming/incremental.py run_stream_apply_changes /
    run_stream_matview). One invocation drains the backlog available
    at call time to completion (capped backlogs as ⌈N/cap⌉ batches,
    each recorded in the --checkpoint dir's cursor file before it is
    applied) and exits, starting no streaming query; schedule it like
    the reference schedules incremental_fetch.py. Re-running with the
    same --checkpoint resumes exactly-once after any kill."""
    spark = _session("cdc-apply")
    if args.view:
        if not (args.group_col and args.value_col):
            raise SystemExit(
                "cdc-apply: --view needs --group-col and --value-col")
        from mc_ns_data_pipeline_spark.streaming.incremental import (
            run_stream_matview,
        )

        run_stream_matview(
            spark, args.source, args.replica, args.view,
            args.checkpoint, args.key, args.group_col,
            args.value_col, starting=args.starting,
            maintenance_every=args.maintenance_every,
            max_commits_per_trigger=args.max_commits_per_trigger,
            max_files_per_trigger=args.max_files_per_trigger)
    else:
        from mc_ns_data_pipeline_spark.streaming.incremental import (
            run_stream_apply_changes,
        )

        run_stream_apply_changes(
            spark, args.source, args.replica, args.checkpoint,
            args.key, starting=args.starting,
            maintenance_every=args.maintenance_every,
            max_commits_per_trigger=args.max_commits_per_trigger,
            max_files_per_trigger=args.max_files_per_trigger)
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    print(f"cdc-apply: replica {args.replica} at "
          f"{V.current_snapshot(args.replica)}"
          + (f", view {args.view} at "
             f"{V.current_snapshot(args.view)}" if args.view else ""))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mc_ns_data_pipeline_spark",
        description="Spark-native pipeline CLI (reference-parity flags; "
        "every flag below falls back to its environment variable — "
        "see config.py for the recognized names and precedence)",
    )
    p.add_argument("--env-file", default=".env",
                   help="dotenv file loaded before resolving settings "
                   "(existing process env always wins)")
    sub = p.add_subparsers(dest="command", required=True)

    # env-backed flags parse with default=None; _resolve_env fills them
    # from the environment after parsing (flag > env > default).
    def add_fetch_common(sp):
        sp.add_argument("--n-pages", type=int, default=None,
                        help="pages of capture records to scan [N_PAGES]")
        sp.add_argument("--batch-size", type=int, default=None,
                        help="pages per executor task [BATCH_SIZE]")
        sp.add_argument("--transport", default=None,
                        choices=["injected", "requests"],
                        help="'requests' builds the production HTTP "
                        "client from BASE_URL/API_TOKEN/API_COOKIE "
                        "(reference api_client.py); default 'injected' "
                        "uses the --*-fetcher paths [TRANSPORT]")
        sp.add_argument("--captures-fetcher", default=None,
                        help="module.path:function returning a captures "
                        "page [CAPTURES_FETCHER]")
        sp.add_argument("--meta-fetcher", default=None,
                        help="module.path:function returning batch-meta "
                        "records [META_FETCHER]")
        sp.add_argument("--structures-fetcher", default=None,
                        help="module.path:function returning structure "
                        "records [STRUCTURES_FETCHER]")
        sp.add_argument("--out-dir", default=None,
                        help="[OUTPUT_DATA_DIR]")
        sp.add_argument("--state-dir", default=None,
                        help="[STATE_DIR or CHECKPOINT_FILE_PATH's dir]")
        sp.add_argument("--sort-column", default=None,
                        help="server-side sort pushdown (O3), e.g. "
                        "create_date [SORT_COLUMN]")
        sp.add_argument("--sort-direction", default=None,
                        help="asc|desc [SORT_DIRECTION]")

    fb = sub.add_parser("fetch-bulk", help="bulk_fetch.py parity")
    add_fetch_common(fb)
    fb.add_argument("--start", type=int, default=0)
    fb.add_argument("--end", type=int, default=60_000)
    fb.set_defaults(fn=cmd_fetch_bulk)

    fi = sub.add_parser("fetch-incremental",
                        help="incremental_fetch.py parity")
    add_fetch_common(fi)
    fi.add_argument("--now-epoch", type=int, default=None,
                    help="override 'now' for reproducible windows")
    fi.set_defaults(fn=cmd_fetch_incremental)

    ld = sub.add_parser("load", help="data_load.py parity")
    ld.add_argument("--bulk", action="store_true")
    ld.add_argument("--incremental", action="store_true")
    ld.add_argument("--report", action="store_true")
    ld.add_argument("--input-dir", default=None,
                    help="[OUTPUT_DATA_DIR]")
    ld.add_argument("--warehouse-dir", default=None,
                    help="[WAREHOUSE_DIR]")
    ld.add_argument("--report-dir", default=None, help="[REPORT_DIR]")
    ld.add_argument("--to-jdbc", action="store_true",
                    help="also truncate-reload lots/lot_data into the "
                    "JDBC warehouse [DB_CONFIG]")
    ld.add_argument("--jdbc-url", default=None,
                    help="JDBC url override (else DB_CONFIG.url)")
    ld.set_defaults(fn=cmd_load)

    tb = sub.add_parser(
        "table",
        help="versioned-table lifecycle: write/append/merge/"
        "delete-keys/compact/vacuum/history/consume "
        "(MVCC snapshots, sinks/versioned.py)")
    tb.add_argument("op", choices=["write", "append", "merge",
                                   "delete-keys", "compact", "vacuum",
                                   "history", "consume",
                                   "view-refresh", "optimize",
                                   "tag", "refs", "publish",
                                   "merge-ref",
                                   "rollback", "set-spec",
                                   "rename-col", "drop-col"])
    tb.add_argument("--table", required=True,
                    help="versioned table directory, or a catalog "
                    "name when --catalog is given")
    tb.add_argument("--catalog", default=None,
                    help="catalog root: resolve --table as a "
                    "'namespace.name' catalog entry instead of a "
                    "path (sinks/table_catalog.py) [CATALOG_ROOT]")
    tb.add_argument("--input", default=None,
                    help="parquet path (write/append/merge/delete-keys)")
    tb.add_argument("--key", default=None,
                    help="merge/delete key column")
    tb.add_argument("--stats-cols", default=None,
                    help="comma list: record per-file [min,max] "
                    "manifest stats at write (enables metadata file "
                    "pruning on later reads and merges)")
    tb.add_argument("--cols", default=None,
                    help="rename-col: OLD:NEW; drop-col: COLUMN")
    tb.add_argument("--partition-spec", default=None,
                    help="hidden partitioning for op=write, "
                    "';'-separated transforms, e.g. "
                    "'days(ts);bucket(8, user_id)' — landings "
                    "auto-cluster, source cols auto-enroll in "
                    "stats/blooms (sinks/versioned.py)")
    tb.add_argument("--bloom-cols", default=None,
                    help="comma list (string/integral columns): "
                    "record per-file equality blooms at write — "
                    "point-lookup pruning on unclustered columns")
    tb.add_argument("--mor", action="store_true",
                    help="delete-keys/merge: merge-on-read — land the "
                    "batch and/or an equality-delete file instead of "
                    "rewriting affected data files (the scattered-"
                    "update/delete fast path); the next compact or "
                    "optimize applies and clears the masks")
    tb.add_argument("--txn-id", default=None,
                    help="exactly-once append stamp (replays no-op)")
    tb.add_argument("--branch", default=None,
                    help="append / merge --mor / delete-keys --mor: "
                    "stage on this named ref instead of CURRENT "
                    "(write-audit-publish); publish with "
                    "'table publish --name'. Rejected for COW ops "
                    "(write, plain merge/delete-keys) — they cannot "
                    "stage.")
    tb.add_argument("--name", default=None,
                    help="ref name (tag/publish/rollback)")
    tb.add_argument("--snapshot", default=None,
                    help="tag/rollback target (default: CURRENT / "
                    "resolves tag names)")
    tb.add_argument("--sort-col", default=None,
                    help="compact: preserve clustering on this column")
    tb.add_argument("--target-files", type=int, default=1,
                    help="compact: output file count")
    tb.add_argument("--target-file-rows", type=int, default=1_000_000,
                    help="optimize: rewrite sizing + small-file "
                    "threshold (half this fill counts as small)")
    tb.add_argument("--keep", type=int, default=2,
                    help="vacuum: snapshots to retain")
    tb.add_argument("--min-age-seconds", type=float, default=None,
                    help="vacuum: never reap snapshots younger than "
                    "this (retention floor for long-running readers)")
    tb.add_argument("--view", default=None,
                    help="view-refresh: the aggregate view's table dir "
                    "(--table is the SOURCE)")
    tb.add_argument("--group-cols", default=None,
                    help="view-refresh: comma list of group columns")
    tb.add_argument("--sum-cols", default=None,
                    help="view-refresh: comma list of summed columns")
    tb.add_argument("--cursor", default=None,
                    help="consume: durable cursor file path")
    tb.add_argument("--out-dir", default=None,
                    help="consume: increments land as parquet under "
                    "inc-<snapshot> here (overwrite => replay-safe)")
    tb.set_defaults(fn=cmd_table)

    ct = sub.add_parser(
        "catalog",
        help="table catalog: name -> versioned-table-root mapping "
        "(create/list/resolve/rename/drop, sinks/table_catalog.py)")
    ct.add_argument("op", choices=["create", "list", "resolve",
                                   "rename", "drop", "pin-group",
                                   "group-show", "drop-group"])
    ct.add_argument("--catalog", required=True,
                    help="catalog root directory")
    ct.add_argument("--name", default=None,
                    help="table name, 'namespace.table' (all ops "
                    "except list)")
    ct.add_argument("--root", default=None,
                    help="create: register this EXTERNAL root instead "
                    "of allocating a managed one")
    ct.add_argument("--to", default=None,
                    help="rename: the new name (metadata-only; data "
                    "never moves)")
    ct.add_argument("--namespace", default=None,
                    help="list: restrict to one namespace")
    ct.add_argument("--purge", action="store_true",
                    help="drop: also delete the data (managed tables "
                    "only)")
    ct.add_argument("--group", default=None,
                    help="group ops: the group name (one atomic "
                    "multi-table snapshot view)")
    ct.add_argument("--names", default=None,
                    help="pin-group: comma-separated table names to "
                    "pin at their CURRENT snapshots")
    ct.set_defaults(fn=cmd_catalog)

    cs = sub.add_parser(
        "catalog-serve",
        help="serve the catalog over HTTP "
        "(sinks/catalog_service.py, Iceberg-REST-shaped verbs)")
    cs.add_argument("--catalog", required=True,
                    help="catalog root directory to serve")
    cs.add_argument("--host", default="127.0.0.1")
    cs.add_argument("--port", type=int, default=0,
                    help="0 = ephemeral")
    cs.add_argument("--check", action="store_true",
                    help="bind, print the URL, and exit")
    cs.set_defaults(fn=cmd_catalog_serve)

    ca = sub.add_parser(
        "cdc-apply",
        help="drain a versioned table's change feed onto a replica "
        "(and optionally an incrementally-maintained aggregate view) "
        "exactly-once, with bounded per-batch admission "
        "(streaming/incremental.py)")
    ca.add_argument("--source", required=True,
                    help="source versioned table directory")
    ca.add_argument("--replica", required=True,
                    help="replica versioned table directory "
                    "(initialize it to the --starting snapshot first)")
    ca.add_argument("--checkpoint", required=True,
                    help="stream checkpoint dir (shared across runs "
                    "= exactly-once resume)")
    ca.add_argument("--key", required=True,
                    help="the table's logical key column")
    ca.add_argument("--starting", default="current",
                    help="'current', 'genesis', or an explicit "
                    "snapshot id (exclusive resume point)")
    ca.add_argument("--view", default=None,
                    help="also maintain this aggregate matview "
                    "(g/n/sum_value) incrementally")
    ca.add_argument("--group-col", default=None,
                    help="view: group column")
    ca.add_argument("--value-col", default=None,
                    help="view: summed value column")
    ca.add_argument("--max-commits-per-trigger", type=int, default=0,
                    help="cap lineage commits admitted per batch "
                    "(0 = unbounded; capped backlogs drain as "
                    "ceil(N/cap) checkpointed batches)")
    ca.add_argument("--max-files-per-trigger", type=int, default=0,
                    help="cap pool files admitted per batch")
    ca.add_argument("--maintenance-every", type=int, default=8,
                    help="run threshold-gated optimize_table on the "
                    "replica (and view) every N batches")
    ca.set_defaults(fn=cmd_cdc_apply)

    tr = sub.add_parser(
        "txn-recover",
        help="resolve sealed-but-unfinished multi-table transactions "
        "(sinks/txn.py); run at process start, before new writers")
    tr.add_argument("--log", default=None,
                    help="transaction intent-log directory")
    tr.add_argument("--catalog", default=None,
                    help="catalog root (log defaults to its _txns/)")
    tr.set_defaults(fn=cmd_txn_recover)
    return p


def _resolve_env(args: argparse.Namespace) -> argparse.Namespace:
    """Fill unset flags from the environment (config.py precedence:
    flag > process env > .env file > default). Required settings that
    neither a flag nor the env provides fail with a message naming
    both."""
    from mc_ns_data_pipeline_spark.config import (
        env_config,
        load_env_file,
        resolve,
    )

    load_env_file(args.env_file)
    cfg = env_config()
    if args.command in ("fetch-bulk", "fetch-incremental"):
        args.n_pages = resolve(args.n_pages, cfg.n_pages,
                               name="--n-pages/N_PAGES", required=True)
        args.batch_size = resolve(args.batch_size, cfg.batch_size, 4)
        args.transport = resolve(args.transport, cfg.transport,
                                 "injected")
        # the module:function paths are only required for the injected
        # transport — 'requests' builds its client from BASE_URL et al.
        need_paths = args.transport != "requests"
        args.captures_fetcher = resolve(
            args.captures_fetcher, cfg.captures_fetcher,
            name="--captures-fetcher/CAPTURES_FETCHER",
            required=need_paths)
        args.meta_fetcher = resolve(
            args.meta_fetcher, cfg.meta_fetcher,
            name="--meta-fetcher/META_FETCHER", required=need_paths)
        args.structures_fetcher = resolve(
            args.structures_fetcher, cfg.structures_fetcher,
            name="--structures-fetcher/STRUCTURES_FETCHER",
            required=need_paths)
        args.out_dir = resolve(args.out_dir, cfg.out_dir,
                               name="--out-dir/OUTPUT_DATA_DIR",
                               required=True)
        args.state_dir = resolve(
            args.state_dir, cfg.state_dir,
            name="--state-dir/STATE_DIR|CHECKPOINT_FILE_PATH",
            required=True)
        args.sort_column = resolve(args.sort_column, cfg.sort_column)
        args.sort_direction = resolve(
            args.sort_direction, cfg.sort_direction)
    elif args.command == "load":
        args.input_dir = resolve(args.input_dir, cfg.out_dir)
        args.warehouse_dir = resolve(
            args.warehouse_dir, cfg.warehouse_dir,
            name="--warehouse-dir/WAREHOUSE_DIR", required=True)
        args.report_dir = resolve(args.report_dir, cfg.report_dir)
    return args


def main(argv: list[str] | None = None) -> int:
    args = _resolve_env(build_parser().parse_args(argv))
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
