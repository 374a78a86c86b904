"""One on-disk lifecycle for every persisted store.

Every ``ensure_*`` / ``update_*`` store (cluster map, MinHash family,
postings, quality scores, IVF, IVFADC, histogram, bucketed table) and the
streaming sinks' state directories go through :class:`Store`, which owns
the Hadoop FS handle and every decision about files on disk:

- **Sidecar.** Params plus the input's ``dataset_digest`` live in a JSON
  sidecar next to the data. On the REUSE path any damage (missing,
  crash-truncated, checksum error, not JSON) reads as "absent" and the
  store rebuilds: a damaged sidecar never bricks a store
  (:meth:`Store.stored_params`). On the SERVING path a missing or
  unreadable sidecar fails loudly (:meth:`Store.meta`).
- **Reuse or rebuild.** A store whose stored params equal the requested
  params (digest included) is reused without touching data; anything else
  rebuilds. Callers see the stored params first, so caller-side decisions
  on them (the histogram store's digest-only rebase, the bucketed table's
  catalog/reattach) stay with the caller.

Two commit protocols, because the stores have two access patterns:

- **Versioned pointer flip** (:meth:`Store.ensure_version`) — cluster and
  MinHash stores. The build lands in a per-build ``<path>__build_*``
  sibling, which is renamed to a counter-named ``v_*`` dir and then the
  ``_current`` pointer swings to it. Readers never observe a missing store
  across a rebuild; the previous version is kept for in-flight readers.
- **Stable directory** (:meth:`Store.ensure`) — postings, quality, IVF,
  IVFADC and histogram stores. The store is deleted and rebuilt in place
  and the sidecar is written LAST, so a crash mid-build reads as absent.
  The incremental stores (postings, IVFADC, histogram) append through
  :meth:`Store.append_delta`: each batch OVERWRITES its own
  ``delta=<batch_id>`` partition (idempotent on replay) and the
  ``_applied_<batch_id>`` marker, written last, short-circuits clean
  replays.

Directory swaps that must not leave a silent hole (the SCD2 sink's commit,
histogram compaction) use :meth:`Store.swap_in`, which raises on a failed
rename instead of returning False like Hadoop's ``FileSystem.rename``.

The bucketed table keeps its own catalog logic in ``sources/io.py`` and
uses only the sidecar half of this module.
"""

from __future__ import annotations

import json
import re
import uuid
from typing import Callable

_BATCH_ID = re.compile(r"[A-Za-z0-9_.-]+")


class Store:
    """A store rooted at ``path``: its FS handle, its JSON sidecar
    ``meta`` and the completion ``marker`` a reusable build must carry
    (both relative to the root; ``marker=None`` skips that check)."""

    def __init__(self, spark, path: str, meta: str | None = None, *,
                 marker: str | None = "_SUCCESS"):
        self.spark = spark
        self.path = path
        self.base = path.rstrip("/")
        self.meta_name = meta
        self.marker = marker
        self._Path = spark._jvm.org.apache.hadoop.fs.Path
        self.fs = self._Path(self.base).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    # -- files --------------------------------------------------------
    def _p(self, rel: str = ""):
        return self._Path(f"{self.base}/{rel}" if rel else self.base)

    def exists(self, rel: str = "") -> bool:
        return bool(self.fs.exists(self._p(rel)))

    def delete(self, rel: str = "") -> None:
        """Recursive delete; a missing path is a no-op."""
        p = self._p(rel)
        if self.fs.exists(p):
            self.fs.delete(p, True)

    def listdir(self) -> list:
        """FileStatus entries under the root; [] when it cannot be listed
        (missing, or vanished mid-call)."""
        try:
            return list(self.fs.listStatus(self._p()))
        except Exception:
            return []

    def read_text(self, rel: str) -> str:
        """A small file's full text; raises on any failure."""
        stream = self.fs.open(self._p(rel))
        try:
            return self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def try_read_text(self, rel: str) -> str | None:
        """Like :meth:`read_text`, but None on ANY failure (missing,
        crash-truncated, checksum error) — callers treat it as absent."""
        try:
            return self.read_text(rel)
        except Exception:
            return None

    def write_text(self, rel: str, text: str) -> None:
        out = self.fs.create(self._p(rel), True)
        try:
            out.write(bytearray(text.encode()))
        finally:
            out.close()

    def swap_in(self, src: str) -> None:
        """Replace the root with the directory ``src`` (delete + rename).
        Hadoop's rename reports failure by returning False; with the
        root already deleted that would leave a silent hole, so raise
        instead — ``src`` still holds the data."""
        self.delete()
        if not self.fs.rename(self._Path(src), self._p()):
            raise IOError(f"rename {src} -> {self.base} failed; data kept at {src}")

    # -- sidecar ------------------------------------------------------
    def read_json(self, rel: str):
        """Parsed JSON of ``rel``, or None on any damage (reuse path)."""
        txt = self.try_read_text(rel)
        try:
            return json.loads(txt) if txt else None
        except Exception:
            return None

    def stored_params(self, rel: str = ""):
        """The sidecar's ``params`` when the store is complete (marker
        present, sidecar readable); None otherwise."""
        if self.marker and not self.exists(self.marker):
            return None
        stored = self.read_json(f"{rel}/{self.meta_name}" if rel else self.meta_name)
        return stored.get("params") if isinstance(stored, dict) else None

    def meta(self, what: str) -> dict:
        """The sidecar, read on the serving path: a missing store raises
        ``ValueError``, a damaged sidecar raises whatever reading it does."""
        if not self.exists(self.meta_name):
            raise ValueError(f"no {what} at {self.path}; build one first")
        return json.loads(self.read_text(self.meta_name))

    def write_meta(self, meta: dict, *, sort_keys: bool = True) -> None:
        self.write_text(self.meta_name, json.dumps(meta, sort_keys=sort_keys))

    # -- stable-directory protocol --------------------------------------
    def ensure(self, params: dict, build: Callable[[str], dict | None]) -> str:
        """Reuse the store when its stored params equal ``params``;
        otherwise :meth:`rebuild` it. Returns 'reused' or 'written'."""
        if self.stored_params() == params:
            return "reused"
        return self.rebuild(params, build)

    def rebuild(self, params: dict, build: Callable[[str], dict | None], *,
                built: str = "written", sort_keys: bool = True) -> str:
        """Delete the store, run ``build(base)`` and write the sidecar
        ``{"params": params, **extra}`` LAST, where ``extra`` is what
        ``build`` returns."""
        self.delete()
        extra = build(self.base) or {}
        self.write_meta({"params": params, **extra}, sort_keys=sort_keys)
        return built

    def append_delta(self, batch_id, write: Callable[[dict, str], dict | None], *,
                     who: str, what: str) -> str:
        """Apply one batch to an incremental store: ``write(meta, dir)``
        overwrites the batch's own ``delta=<batch_id>`` dir and may return
        an updated sidecar; the ``_applied_<batch_id>`` marker is written
        LAST. Returns 'applied', or 'skipped' for a clean replay."""
        # the delta write targets <path>/delta=<batch_id> directly, so the
        # id must be a safe single path segment — and never 'base', which
        # would overwrite the store's own base partition
        if not _BATCH_ID.fullmatch(str(batch_id)) or str(batch_id) == "base":
            raise ValueError(
                f"{who}: invalid batch_id {batch_id!r} — must match "
                "[A-Za-z0-9_.-]+ and must not be the reserved value 'base'"
            )
        if not self.exists(self.meta_name):
            raise ValueError(f"no {what} at {self.path}; build one first")
        marker = f"_applied_{batch_id}"
        if self.exists(marker):
            return "skipped"
        meta = json.loads(self.read_text(self.meta_name))
        updated = write(meta, f"{self.base}/delta={batch_id}")
        if updated is not None:
            self.write_meta(updated)
        self.write_text(marker, "1")
        return "applied"

    # -- versioned pointer-flip protocol ----------------------------------
    def versions(self) -> list[str]:
        """Names of complete ``v_*`` version dirs (those holding the
        sidecar), in creation order."""
        return list_versions(self.spark._jvm, self.fs, self.base, self.meta_name)

    def current(self) -> str | None:
        """Current version dir name: ``_current`` when it names a complete
        version, else the newest complete version (covers the instant a
        committer is swapping the pointer). None when there is none."""
        ptr = self.try_read_text("_current")
        if ptr and self.exists(f"{ptr.strip()}/{self.meta_name}"):
            return ptr.strip()
        versions = self.versions()
        return versions[-1] if versions else None

    def data_dir(self) -> str:
        """The current version dir, or the root itself for a store written
        flat (without versions)."""
        cur = self.current()
        return f"{self.base}/{cur}" if cur else self.base

    def ensure_version(self, params: dict, build: Callable[[str], None]) -> str:
        """Versioned build-once: reuse the current version when its
        sidecar params equal ``params``; otherwise ``build`` into a
        per-build scratch dir (deleted if the build fails), stamp the
        sidecar and :meth:`commit_version` it. Returns 'built' or
        'reused'."""
        cur = self.current()
        if cur is not None and self.stored_params(cur) == params:
            return "reused"
        # per-build scratch: two concurrent builds never share it;
        # each commits a complete private version and the last flip wins
        tmp = f"{self.base}__build_{uuid.uuid4().hex[:12]}"
        try:
            build(tmp)
            Store(self.spark, tmp, self.meta_name).write_meta({"params": params})
        except BaseException:
            try:
                self.fs.delete(self._Path(tmp), True)
            except Exception:
                pass
            raise
        self.commit_version(tmp)
        return "built"

    def commit_version(self, tmp: str, keep_previous: int = 1) -> None:
        """Pointer-flip commit of the fully built dir ``tmp``: rename it
        to the next ``v_<counter>_<uuid>`` slot, then swap ``_current``
        (write new + delete + rename; a reader catching the gap falls back
        to the newest complete version). Versions beyond the new one plus
        ``keep_previous`` are deleted best-effort."""
        if not self.exists():
            self.fs.mkdirs(self._p())
        next_ctr = 0
        versions = self.versions()
        for nm in versions:
            try:
                next_ctr = max(next_ctr, int(nm.split("_")[1]) + 1)
            except (IndexError, ValueError):
                next_ctr = max(next_ctr, len(versions))
        vname = f"v_{next_ctr:010d}_{uuid.uuid4().hex[:8]}"
        if not self.fs.rename(self._Path(tmp), self._p(vname)):
            raise IOError(f"store version commit rename failed; build kept at {tmp}")
        ptr_tmp = f"_current__tmp_{uuid.uuid4().hex[:8]}"
        self.write_text(ptr_tmp, vname)
        self.delete("_current")
        if not self.fs.rename(self._p(ptr_tmp), self._p("_current")):
            raise IOError(
                f"store pointer flip failed; version committed at {self.base}/{vname}"
            )
        for nm in self.versions()[: -(1 + keep_previous)]:
            try:
                self.fs.delete(self._p(nm), True)
            except Exception:
                pass


def list_versions(jvm, fs, base: str, meta_name: str) -> list[str]:
    """Names of complete ``v_*`` dirs under ``base`` (those whose sidecar
    ``meta_name`` exists), sorted — the zero-padded counter prefix makes
    lexicographic order creation order."""
    Path = jvm.org.apache.hadoop.fs.Path
    try:
        statuses = list(fs.listStatus(Path(base)))
    except Exception:
        return []
    out = []
    for st in statuses:
        nm = st.getPath().getName()
        if nm.startswith("v_") and st.isDirectory() and fs.exists(
            Path(f"{base}/{nm}/{meta_name}")
        ):
            out.append(nm)
    return sorted(out)
