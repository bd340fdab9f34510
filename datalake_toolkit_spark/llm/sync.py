"""Index synchronization from a mutating LakeTable's change feed.

The lakehouse analogue of the reference's DynamoDB-stream ->
Elasticsearch propagation (dynamodb/lambda chain indexing every data
mutation into the search plane): here a table mutates through ordinary
versioned commits — upserts, deletes, merge-on-read appends — and the
derived indexes follow by consuming ``LakeTable.changes`` between the
last-synced version and the target one. Cost is O(mutation): the CDF
reads only partitions that changed hands between the two manifests,
the postings replace-add touches only the changed docs' term buckets,
and the IVF merge touches only the changed vectors' lists. The corpus
is never rescanned.

Net-change semantics: ``changes()`` diffs two SNAPSHOTS, so a row
inserted and deleted inside the sync window nets to nothing before it
ever reaches the index, and an update arrives as a delete+insert pair
on the same key — the insert side is the after-image, applied as a
replace-add (postings) / key merge (IVF); ids appearing ONLY on the
delete side are removed.

Every apply path is idempotent (replace-add re-deletes its own ids,
``remove`` of an absent id is a no-op, the IVF upsert merges on key),
so a crash between applying and advancing the cursor replays cleanly —
the same convergence contract the indexes' own write paths already
carry.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "sync_postings_from_table",
    "sync_ivf_from_table",
    "sync_cursor",
    "sync_search_plane",
    "search_plane_snapshot",
    "latest_plane_pin",
]


def _cursor_path(index_path: str, table_path: str) -> str:
    # realpath, not abspath: the same table reached via a relative
    # path, a different cwd, or a symlink must key the SAME cursor —
    # a second key would silently re-bootstrap and keep serving ids
    # that left the table before the bootstrap
    key = hashlib.md5(os.path.realpath(table_path).encode()).hexdigest()
    return os.path.join(index_path, "_sync", f"{key}.json")


def _warn_if_bootstrap_over_populated(index, populated: bool) -> None:
    """A bootstrap (no cursor) over a PRE-POPULATED index converges
    only for ids still in the table snapshot — rows whose ids left
    the table beforehand are never discovered and keep serving.
    That's documented, but it's also the path of least resistance
    (the CLI's default from_version=None), so make it loud."""
    if populated:
        import warnings

        warnings.warn(
            f"bootstrapping sync over a non-empty index at {index.path}: "
            "ids that left the table before this bootstrap stay in the "
            "index. Start from an empty index, or sync from a real "
            "from_version.",
            stacklevel=3,
        )


def sync_cursor(index, table) -> int | None:
    """The last table version this index synced to (None = never)."""
    p = _cursor_path(index.path, table.path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)["version"]


def _advance_cursor(index, table, version: int) -> None:
    # temp-write + rename so a crash never leaves a torn cursor; a
    # stale cursor only re-applies an idempotent window
    p = _cursor_path(index.path, table.path)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(p), suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump({"table_path": table.path, "version": version}, f)
    os.replace(tmp, p)


class _Net(NamedTuple):
    """One sync window's net change-set (see :func:`_net_changes`)."""

    upserts: DataFrame  # one after-image row per inserted/updated id
    upsert_ids: list  # their ids
    removed: list  # ids only on the delete side: net deletes
    old: DataFrame  # before-images: the whole delete side


def _net_changes(
    table, from_version: int, to_version: int, id_col: str
) -> _Net:
    """The window's net change-set. The id collect is bounded by the
    mutation size — the sync window's changed keys — the same
    update-sized contract the indexes' own ``remove`` and replace-add
    document; for corpus-scale rewrites, rebuild instead of syncing.
    The before-images feed the postings index's O(batch)
    removal-stats hint: under the follower contract (the index
    tracks this table), a deleted row's old content IS what the
    index holds for that id."""
    # pin the two-snapshot diff ONCE: it is mutation-sized, and the
    # id collect and the caller's add would otherwise each re-run the
    # full diff (the dominant sync cost)
    ch = table.changes(from_version, to_version).localCheckpoint(eager=True)
    ins = ch.where(F.col("_change_type") == "insert").drop("_change_type")
    # one id can diff as several insert rows when the table holds
    # duplicate keys; the indexes treat id as a key, so keep ONE
    # DETERMINISTIC winner — the row greatest under the total order
    # of its remaining columns (descending, schema order) — and leave
    # enforcing uniqueness to the table's own merge discipline.
    # (dropDuplicates keeps an ARBITRARY row, which would let the
    # synced index content differ run to run.)
    from pyspark.sql import types as T

    def _orderable(dt) -> bool:
        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    orderable = {
        f.name for f in ins.schema.fields if _orderable(f.dataType)
    }
    others = [c for c in ins.columns if c != id_col and c in orderable]
    if others:
        from pyspark.sql import Window

        wdet = Window.partitionBy(id_col).orderBy(
            *[F.desc(c) for c in others]
        )
        upserts = (
            ins.withColumn("_rn", F.row_number().over(wdet))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        # no orderable non-key columns (or none at all): the winner
        # is arbitrary-but-single; uniqueness is the table's job
        upserts = ins.dropDuplicates([id_col])
    old = ch.where(F.col("_change_type") == "delete").drop(
        "_change_type"
    )
    # ONE collect splits the window's ids: an id with an insert row
    # is an upsert (its delete row, if any, is the update's
    # before-image); an id with only delete rows is a net delete
    ids = ch.groupBy(id_col).agg(
        F.max((F.col("_change_type") == "insert").cast("int")).alias("i")
    ).collect()
    return _Net(
        upserts,
        [r[0] for r in ids if r[1]],
        [r[0] for r in ids if not r[1]],
        old,
    )


def _window(index, table, from_version, to_version) -> tuple[int, int | None]:
    cur = table.current_version()
    if cur is None:
        raise ValueError(f"table at {table.path} has no commits to sync from")
    to_v = cur if to_version is None else to_version
    if from_version is None:
        from_version = sync_cursor(index, table)
    return from_version, to_v


def sync_postings_from_table(
    index,
    table,
    from_version: int | None = None,
    to_version: int | None = None,
    mode: str = "mor",
    *,
    _net: _Net | None = None,
) -> dict:
    """Bring a :class:`~datalake_toolkit_spark.llm.search.PostingsIndex`
    up to date with a LakeTable holding ``(id_col, text_col)`` rows.

    ``from_version=None`` resumes from the persisted cursor; with no
    cursor the call BOOTSTRAPS — the whole table snapshot is indexed
    as one batch. Re-bootstrapping converges for every id IN the
    snapshot (replace-add semantics); index rows whose ids left the
    table before the bootstrap are NOT discovered — start from an
    empty index, or sync from a real version.

    An incremental window is ONE mutation pass over the index: the
    window's net deletes and its updated ids are deleted together
    (one merge-on-read predicate delete per table, one removal-stats
    refresh), then the after-images are inserted — so postings for
    terms a new text dropped die instead of serving stale — and the
    corpus stats refresh once over every touched bucket. The term
    stats are certified fresh only after the insert; a crash inside
    the pass leaves them marked stale (exact serving), never
    stale-as-fresh. ``_net``: the window's change-set, already built
    by :func:`sync_search_plane` for this same window (internal)."""
    from_v, to_v = _window(index, table, from_version, to_version)
    out = {"from_version": from_v, "to_version": to_v,
           "upserts": 0, "removes": 0}
    if from_v is None:
        _warn_if_bootstrap_over_populated(
            index,
            index.postings_t.current_version() is not None
            and bool(index.postings_t.read().limit(1).take(1)),
        )
        # deliberately NOT checkpointed: bootstrap is corpus-sized, so
        # pinning it would copy the whole corpus to executor storage —
        # the count's second parquet scan is the cheaper price
        snap = table.read(version=to_v).select(index.id_col, index.text_col)
        out["upserts"] = snap.count()
        # add unconditionally: an EMPTY snapshot must still CREATE the
        # index (committed, zero postings) so the serve path works —
        # the same contract add() itself has for an empty batch
        index.add(snap, mode=mode, replace=True)
        _advance_cursor(index, table, to_v)
        return out
    if from_v == to_v:
        return out
    net = _net if _net is not None else _net_changes(
        table, from_v, to_v, index.id_col
    )
    out["removes"] = len(net.removed)
    out["upserts"] = len(net.upsert_ids)
    if net.removed or net.upsert_ids:
        # the before-images ARE the removed and replaced ids' indexed
        # content under the follower contract — O(batch) stats
        # maintenance, no postings scan
        index._apply(
            net.upserts.select(index.id_col, index.text_col)
            if net.upsert_ids
            else None,
            net.removed + net.upsert_ids,
            mode=mode,
            before=net.old.select(index.id_col, index.text_col),
        )
    _advance_cursor(index, table, to_v)
    return out


def sync_ivf_from_table(
    index,
    table,
    from_version: int | None = None,
    to_version: int | None = None,
    mode: str = "mor",
    *,
    _net: _Net | None = None,
) -> dict:
    """Bring an :class:`~datalake_toolkit_spark.llm.ann_index.IVFIndex`
    up to date with a LakeTable holding ``(id_col, vec_col)`` rows.
    Same cursor/bootstrap/netting contract as
    :func:`sync_postings_from_table`; the index must be ``build``-
    initialized (adds assign against the stored centroids — drift is
    ``rebuild``'s job, on its own schedule).

    An update that turns a vector NON-indexable (NULL / zero norm)
    becomes a remove: the IVF add path drops direction-free rows, so
    without the demotion the stale old vector would keep serving."""
    from_v, to_v = _window(index, table, from_version, to_version)
    out = {"from_version": from_v, "to_version": to_v,
           "upserts": 0, "removes": 0}
    if from_v is None:
        _warn_if_bootstrap_over_populated(
            index,
            index.assignments_t.current_version() is not None
            and bool(index.assignments_t.read().limit(1).take(1)),
        )
        # NOT checkpointed — corpus-sized, same trade as the postings
        # bootstrap
        snap = table.read(version=to_v).select(index.id_col, index.vec_col)
        out["upserts"] = index._prep(snap).count()
        if out["upserts"]:
            index.add(snap, mode=mode)
        _advance_cursor(index, table, to_v)
        return out
    if from_v == to_v:
        return out
    net = _net if _net is not None else _net_changes(
        table, from_v, to_v, index.id_col
    )
    upserts = net.upserts.select(index.id_col, index.vec_col)
    demoted = []
    if net.upsert_ids:
        indexable = index._prep(upserts)
        demoted = [
            r[0]
            for r in upserts.select(F.col(index.id_col).alias("id"))
            .join(indexable.select("id"), "id", "left_anti")
            .collect()
        ]
    removed = net.removed + demoted
    out["removes"] = len(removed)
    if removed:
        index.remove(removed)
    out["upserts"] = len(net.upsert_ids) - len(demoted)
    if out["upserts"]:
        index.add(upserts, mode=mode)
    _advance_cursor(index, table, to_v)
    return out


def search_plane_snapshot(postings_index, ivf_index) -> dict:
    """ONE pin across both retrieval modalities —
    ``{"lexical": PostingsIndex.snapshot(), "vector":
    IVFIndex.snapshot()}`` — accepted whole by
    :func:`~datalake_toolkit_spark.llm.search.hybrid_search_indexed`
    ``at=``. Taken between mutations (the single-writer maintenance
    contract the LakeTables already assume), it freezes one corpus
    state across indexes; :func:`sync_search_plane` returns one taken
    at a KNOWN table version, which is the stronger guarantee a
    serving tier should prefer."""
    return {
        "lexical": postings_index.snapshot(),
        "vector": ivf_index.snapshot(),
    }


def _plane_pin_path(postings_index, ivf_index, table) -> str:
    key = hashlib.md5(
        (
            os.path.realpath(table.path)
            + "|"
            + os.path.realpath(ivf_index.path)
        ).encode()
    ).hexdigest()
    return os.path.join(postings_index.path, "_sync", f"plane_{key}.json")


def latest_plane_pin(postings_index, ivf_index, table) -> dict | None:
    """The most recent combined pin :func:`sync_search_plane`
    persisted for this (postings, ivf, table) triple, or None —
    ``{"table_version": v, "pin": {"lexical": ..., "vector": ...}}``.
    A serving tier reads this instead of racing live index state
    during maintenance."""
    p = _plane_pin_path(postings_index, ivf_index, table)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def sync_search_plane(
    postings_index,
    ivf_index,
    table,
    from_version: int | None = None,
    to_version: int | None = None,
    mode: str = "mor",
) -> dict:
    """Advance BOTH indexes to the SAME pinned table version and hand
    back a mutually consistent combined pin — the r11 verdict's
    missing primitive: without it a hybrid serve during maintenance
    can fuse two different corpus states (lexical ranks from one
    snapshot, vector ranks from another).

    The target version is resolved ONCE up front, so both syncs apply
    the same window even while the table keeps committing; each
    index's snapshot is taken IMMEDIATELY after its own sync (before
    the other side runs), so each pinned state is exactly table@to_v
    for that modality under the single-writer maintenance contract.
    The combined pin is persisted next to the sync cursors
    (crash-safe tmp+rename) for :func:`latest_plane_pin`.

    The window's net change-set (the CDF diff, its checkpoint and
    the id collect) is built ONCE and handed to both index syncs
    whenever the two resolved cursors name the same window — the
    normal case. When they differ (a crash between the two syncs left
    one cursor behind) or the indexes key on different id columns,
    each index derives its own window: the postings before-image hint
    must describe what THAT index holds. The postings side applies
    its window as one removal pass plus one insert (see
    :func:`sync_postings_from_table`).

    Returns ``{"table_version", "lexical", "vector", "pin"}`` where
    ``pin`` goes straight into ``hybrid_search_indexed(at=...)``."""
    cur = table.current_version()
    if cur is None:
        raise ValueError(
            f"table at {table.path} has no commits to sync from"
        )
    to_v = cur if to_version is None else to_version
    from_lex, from_vec = (
        (from_version, from_version)
        if from_version is not None
        else (sync_cursor(postings_index, table),
              sync_cursor(ivf_index, table))
    )
    net = None
    if (
        from_lex is not None
        and from_lex == from_vec
        and from_lex != to_v
        and postings_index.id_col == ivf_index.id_col
    ):
        net = _net_changes(table, from_lex, to_v, postings_index.id_col)
    lex = sync_postings_from_table(
        postings_index, table, from_lex, to_v, mode, _net=net
    )
    lex_pin = postings_index.snapshot()
    vec = sync_ivf_from_table(
        ivf_index, table, from_vec, to_v, mode, _net=net
    )
    vec_pin = ivf_index.snapshot()
    pin = {"lexical": lex_pin, "vector": vec_pin}
    p = _plane_pin_path(postings_index, ivf_index, table)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(p), suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump({"table_version": to_v, "pin": pin}, f)
    os.replace(tmp, p)
    return {
        "table_version": to_v,
        "lexical": lex,
        "vector": vec,
        "pin": pin,
    }
