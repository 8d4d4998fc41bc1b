"""A model check of the LakeTable commit protocol (lake/log.py) with no
JVM: a Hypothesis state machine drives ``Log`` from two handles and
keeps a plain-Python model of every manifest beside it.

A data dir is a directory of empty ``*.parquet`` files; its entry names
them (``live_files``) or leaves the dir to be listed. Steps: commits from
handle A or B against a fresh or a stale head, as an entry list, as a
blind append or as a partition-scoped rewrite that rebases; ``txn``
replays and two writers racing one ``txn``; a crash at every
``_crash_hook`` point; a deleted or rewound ``_LATEST``; ``restore(k)``;
metadata changes that every rebase must refuse. After every step the
head, the ``txns`` map, ``history()``, every ``_manifest(k)``,
``version_as_of`` and a replay of ``actions_between(0, head)`` agree
with the model; after a crash the table is exactly the state before the
commit or the one after it."""

import os
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    rule,
    run_state_machine_as_test,
)

import ecommerce_lakehouse_spark.lake.log as lake_log
from ecommerce_lakehouse_spark.lake.log import ConcurrentWriteError, Log

APP = "app"
HANDLES = st.sampled_from("AB")
TXNS = st.one_of(st.none(), st.integers(1, 4).map(lambda v: {"app_id": APP, "version": v}))
# every commit's metadata the model tracks, with its value before a key is set
META = {"partition_by": [], "properties": {}, "schema": None, "deletion_vectors": []}
CHECKED = ("version", "operation", "data_dirs", "touched_partitions", "txn", "txns", *META)


def _field(name: str) -> dict:
    return {"name": name, "type": "long", "nullable": True, "metadata": {}}


class InjectedCrash(RuntimeError):
    pass


class LogMachine(RuleBasedStateMachine):
    def __init__(self):
        super().__init__()
        self.root = tempfile.mkdtemp(prefix="lake-log-model-")
        self.logs = {"A": Log(self.root), "B": Log(self.root)}
        self.read = {}  # handle -> the head it last read
        self.model: list[dict] = []  # model[k - 1]: manifest of version k
        self.disk: dict[str, list[str]] = {}  # data dir -> its files
        self.made = 0

    def teardown(self):
        shutil.rmtree(self.root, ignore_errors=True)

    # ---------------- the client: entries, and the model's outcome ----------------

    def _head(self) -> dict:
        return self.model[-1] if self.model else {"version": 0}

    def _new_dir(self, part: str, whole: bool) -> dict:
        self.made += 1
        path = os.path.join(self.root, "data", f"d{self.made:04d}")
        files = [os.path.join(f"p={part}", f"part-{i}.parquet") for i in range(2)]
        os.makedirs(os.path.join(path, f"p={part}"))
        for f in files:
            open(os.path.join(path, f), "w").close()
        self.disk[path] = files
        return {"path": path} if whole else {"path": path, "live_files": files}

    def _files(self, entry: dict) -> list[str]:
        live = entry.get("live_files")
        return self.disk[entry["path"]] if live is None else live

    def _maker(self, change: str, part: str, whole: bool):
        """``make_entries(head)``: add a new dir, or stop serving the
        first file of the first dir that has one."""
        if change == "add":
            entry = self._new_dir(part, whole)
            return lambda head: head["data_dirs"] + [entry]

        def drop(head):
            out, done = [], False
            for e in head["data_dirs"]:
                files = self._files(e)
                if done or not files:
                    out.append(e)
                    continue
                done = True
                if files[1:]:
                    out.append({"path": e["path"], "live_files": files[1:]})
            return out

        return drop

    def _expect(self, entries, op, touched=None, txn=None, written=None, **changes):
        """The manifest a commit of ``entries`` on the model head records."""
        head = self._head()
        meta = {k: changes.get(k, head.get(k, d)) for k, d in META.items()}
        if written:
            names = [f["name"] for f in meta["schema"]["fields"]]
            extra = [f for f in written["fields"] if f["name"] not in names and f["name"] != "p"]
            meta["schema"] = {"type": "struct", "fields": meta["schema"]["fields"] + extra}
        txns = dict(head.get("txns", {}))
        if txn:
            txns[txn["app_id"]] = txn["version"]
        return {
            "version": head["version"] + 1, "operation": op, "data_dirs": entries,
            "touched_partitions": touched, "txn": txn, "txns": txns, **meta,
        }

    def _applied(self, manifest: dict, txn) -> bool:
        return bool(txn) and manifest.get("txns", {}).get(APP, 0) >= txn["version"]

    def _outcome(self, base: int, shape: str, make, part: str, check: bool, txn, **kw):
        """``("commit", manifest)``, ``("skip", version)`` or
        ``("conflict", None)`` for a commit that read version ``base``."""
        head = self._head()
        touched = None if shape == "list" else [{"p": part}]
        commit = ("commit", self._expect(None, shape, touched, txn, **kw))
        if base == head["version"]:
            commit[1]["data_dirs"] = make(head)
            return commit
        if self._applied(head, txn):
            return "skip", head["version"]
        prior = self.model[base - 1]
        winners = self.model[base:]
        names = [f["name"] for f in prior["schema"]["fields"]]
        for w in winners:
            widened = [f["name"] for f in w["schema"]["fields"]][: len(names)] == names
            if shape == "list" or w["properties"] != prior["properties"] or not widened:
                return "conflict", None
        if shape == "scoped":
            for w in winners:
                if w["touched_partitions"] is None or {"p": part} in w["touched_partitions"]:
                    return "conflict", None
            mine = {e["path"] for e in prior["data_dirs"]}
            if any(e["path"] not in mine for w in winners for e in w["data_dirs"]) and not check:
                return "conflict", None
        commit[1]["data_dirs"] = make(head)
        return commit

    def _run(self, h: str, prior: dict, shape: str, make, part: str, check: bool, txn, written):
        return self.logs[h]._commit(
            prior, make(prior) if shape == "list" else make, shape,
            touched=None if shape == "list" else [{"p": part}],
            txn=txn, written=written, blind=shape == "blind",
            delta_check=lambda head, new: check,
        )

    def _settle(self, outcome, run):
        kind, want = outcome
        if kind == "conflict":
            with pytest.raises(ConcurrentWriteError):
                run()
            return
        got = run()
        if kind == "skip":
            assert got == want
            return
        assert got == want["version"]
        self.model.append(want)

    def _written(self, widen: bool):
        if not widen:
            return None
        self.made += 1
        return {"type": "struct", "fields": [_field("k"), _field(f"c{self.made}"), _field("p")]}

    # ---------------- steps ----------------

    @initialize()
    def create(self):
        log = self.logs["A"]
        assert not log.exists() and log._head() == {"version": 0}
        with pytest.raises(FileNotFoundError):
            log.current_version()
        entry = self._new_dir("a", whole=True)
        schema = {"type": "struct", "fields": [_field("k"), _field("p")]}
        want = self._expect([entry], "create", partition_by=["p"], schema=schema)
        assert log._commit({"version": 0}, [entry], "create", partition_by=["p"], schema=schema) == 1
        self.model.append(want)
        self.read = {"A": log._head(), "B": log._head()}

    @rule(h=HANDLES)
    def read_head(self, h):
        self.read[h] = self.logs[h]._head()

    @rule(
        h=HANDLES, fresh=st.booleans(), shape=st.sampled_from(["list", "blind", "scoped"]),
        change=st.sampled_from(["add", "drop"]), part=st.sampled_from("ab"),
        whole=st.booleans(), check=st.booleans(), txn=TXNS, widen=st.booleans(),
    )
    def commit(self, h, fresh, shape, change, part, whole, check, txn, widen):
        prior = self.logs[h]._head() if fresh else self.read[h]
        if self.logs[h]._txn_applied(prior, txn):
            # what every write op does with a head recording its txn
            assert self._applied(self.model[prior["version"] - 1], txn)
            return
        make, written = self._maker(change, part, whole), self._written(widen)
        outcome = self._outcome(prior["version"], shape, make, part, check, txn, written=written)
        self._settle(outcome, lambda: self._run(h, prior, shape, make, part, check, txn, written))

    @rule(
        point=st.sampled_from(["commit_enter", "manifest_tmp_written"]),
        shape=st.sampled_from(["list", "blind", "scoped"]),
        winner=st.sampled_from(["list", "blind", "scoped"]),
        part=st.sampled_from("ab"), other=st.sampled_from("ab"),
        check=st.booleans(), same_txn=st.booleans(),
    )
    def race(self, point, shape, winner, part, other, check, same_txn):
        """B commits from inside A's commit, at ``point``; with
        ``same_txn`` both replay one transaction, which must land once."""
        txn = None
        if same_txn:
            txn = {"app_id": APP, "version": self._head()["txns"].get(APP, 0) + 1}
        prior = self.logs["A"]._head()
        make_b = self._maker("add", other, whole=False)
        won = self._outcome(prior["version"], winner, make_b, other, True, txn)
        fired = []

        def hook(p):
            if p == point and not fired:
                fired.append(p)
                self._settle(won, lambda: self._run("B", prior, winner, make_b, other, True, txn, None))

        make_a = self._maker("add", part, whole=False)
        saved = lake_log._crash_hook
        lake_log._crash_hook = hook
        try:
            # the loser's outcome is judged once the winner is in the model
            run = lambda: self._run("A", prior, shape, make_a, part, check, txn, None)  # noqa: E731
            got = None
            try:
                got = run()
            except ConcurrentWriteError:
                pass
        finally:
            lake_log._crash_hook = saved
        assert fired
        kind, want = self._outcome(prior["version"], shape, make_a, part, check, txn)
        if kind == "conflict":
            assert got is None
        elif kind == "skip":
            assert got == want
        else:
            assert got == want["version"]
            self.model.append(want)

    @rule(point=st.sampled_from(["commit_enter", "manifest_tmp_written", "manifest_linked"]))
    def crash(self, point):
        log = self.logs["A"]
        prior = log._head()
        entry = self._new_dir("a", whole=False)
        want = self._expect(prior["data_dirs"] + [entry], "append")

        def hook(p):
            if p == point:
                raise InjectedCrash(p)

        saved = lake_log._crash_hook
        lake_log._crash_hook = hook
        try:
            with pytest.raises(InjectedCrash):
                log._commit(prior, prior["data_dirs"] + [entry], "append")
        finally:
            lake_log._crash_hook = saved
        if point == "manifest_linked":  # past the commit point
            self.model.append(want)

    @rule(rewind=st.one_of(st.none(), st.integers(0, 50)))
    def move_latest(self, rewind):
        """Delete ``_LATEST``, or rewind it to an older version."""
        latest = self.logs["A"]._latest_path()
        if rewind is None:
            if os.path.exists(latest):
                os.remove(latest)
            return
        with open(latest, "w") as f:
            f.write(str(min(rewind, len(self.model))))

    @rule(h=HANDLES, k=st.integers(1, 50))
    def restore(self, h, k):
        k = min(k, len(self.model))
        target = self.model[k - 1]
        want = self._expect(
            target["data_dirs"], "restore", **{m: target[m] for m in META}
        )
        assert self.logs[h].restore(k) == want["version"]
        self.model.append(want)

    @rule(h=HANDLES, fresh=st.booleans(), value=st.integers(0, 2))
    def set_property(self, h, fresh, value):
        prior = self.logs[h]._head() if fresh else self.read[h]
        props = {**prior["properties"], "x": value}
        outcome = self._outcome(
            prior["version"], "list", lambda head: prior["data_dirs"], "a", True, None,
            properties=props,
        )
        self._settle(
            outcome,
            lambda: self.logs[h]._commit(
                prior, prior["data_dirs"], "list", properties=props
            ),
        )

    @rule(h=HANDLES)
    def delete_dv(self, h):
        prior = self.logs[h]._head()
        self.made += 1
        dv = os.path.join(self.root, "_dv", f"dv{self.made:04d}")
        os.makedirs(dv)
        dvs = prior["deletion_vectors"] + [dv]
        want = self._expect(prior["data_dirs"], "delete-dv", deletion_vectors=dvs)
        v = self.logs[h]._commit(prior, prior["data_dirs"], "delete-dv", deletion_vectors=dvs)
        assert v == want["version"]
        self.model.append(want)

    # ---------------- after every step ----------------

    @invariant()
    def log_agrees_with_model(self):
        if not self.model:
            return
        log, head = Log(self.root), len(self.model)
        assert log._head_version() == head and log.current_version() == head
        assert log.exists()
        hist = log.history()
        assert [m["version"] for m in hist] == list(range(1, head + 1))
        for m, want in zip(hist, self.model):
            assert {k: m.get(k) for k in CHECKED} == want
            assert log._manifest(m["version"]) == m
        assert log.last_txn(APP) == self.model[-1]["txns"].get(APP)
        stamps = [m["committed_at"] for m in hist]
        for k in sorted({1, (head + 1) // 2, head}):
            assert log.version_as_of(stamps[k - 1]) == max(
                j for j, ts in enumerate(stamps, 1) if ts <= stamps[k - 1]
            )
        with pytest.raises(ValueError):
            log.version_as_of(stamps[0] - 1)
        # replaying every commit's actions rebuilds every version
        live, dvs, prev = set(), set(), None
        commits = list(log.actions_between(0, head))
        assert [c.version for c in commits] == list(range(1, head + 1))
        for c, m, want in zip(commits, hist, self.model):
            assert (c.operation, c.manifest, c.prior) == (want["operation"], m, prev)
            for p, files in c.removed.items():
                live -= {(p, f) for f in (self.disk[p] if files is None else files)}
            for p, files in c.added.items():
                live |= {(p, f) for f in (self.disk[p] if files is None else files)}
            dvs = (dvs - set(c.dvs_removed)) | set(c.dvs_added)
            assert live == {(e["path"], f) for e in want["data_dirs"] for f in self._files(e)}
            assert dvs == set(want["deletion_vectors"])
            before = {e["path"] for e in prev["data_dirs"]} if prev else set()
            assert c.new_dirs == [e["path"] for e in want["data_dirs"] if e["path"] not in before]
            for p in c.new_dirs:
                assert c.files(p) == sorted(self._files(next(e for e in want["data_dirs"] if e["path"] == p)))
            prev = m


_COMMON = dict(
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)


def test_log_protocol_model():
    """A seeded, bounded walk for the default tier."""
    run_state_machine_as_test(
        LogMachine, settings=settings(max_examples=60, stateful_step_count=30, **_COMMON)
    )


@pytest.mark.slow
def test_log_protocol_model_deep():
    run_state_machine_as_test(
        LogMachine, settings=settings(max_examples=400, stateful_step_count=60, **_COMMON)
    )
