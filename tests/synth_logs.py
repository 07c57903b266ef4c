"""Seeded, deterministic raw-log generator in the three open-set formats.

Each function returns raw lines in the layout its loader config declares
(``logai_spark/sources/openset_configs/*.json``), sized and shaped after
FIXTURES.md F1-F3:

- ``healthapp_lines``: ``Timestamps|Action|ID|Details``, millisecond
  ``SSS`` timestamps, ~30 message templates with digit parameters, some
  messages shared by two Actions;
- ``hdfs_lines``: ``<Date> <Time> <Pid> <Level> <Content>``, ~20 templates,
  every line names one ``blk_-?\\d+`` block, each block spans 5-30 lines;
- ``bgl_lines``: ``<Label> <Id> <Date> <Code1> <Time> <Code2> <Content>``,
  ``-`` for normal lines and an alarm tag for the few anomalous ones.

Same ``(n, seed)`` -> same lines, on any host. ``body_lines`` splits off the
body column the way the loaders do; ``write_log`` writes a file for the
path-based readers.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone


def _ms(rng: random.Random) -> str:
    return str(1514038530000 + rng.randint(0, 10**7))


def _ip(rng: random.Random) -> str:
    return f"10.251.{rng.randint(0, 127)}.{rng.randint(1, 254)}"


# HealthApp: (actions that log the message, message builder)
_HEALTHAPP = [
    (("Step_LSC", "Step_StandReportReceiver"), lambda r: f"onStandStepChanged {r.randint(1000, 9999)}"),
    (("Step_LSC",), lambda r: f"onExtend:{_ms(r)} {r.randint(0, 20)} {r.randint(0, 3)} {r.randint(1, 9)}"),
    (("Step_LSC", "Step_StandStepCounter"), lambda r: "flush sensor data"),
    (("Step_LSC",), lambda r: "processHandleBroadcastAction action:android.intent.action.SCREEN_ON"),
    (("Step_LSC",), lambda r: f"onReceive action: android.intent.action.TIME_TICK {r.randint(1, 60)}"),
    (("Step_StandReportReceiver",), lambda r: f"REPORT : {r.randint(1000, 9999)} {r.randint(0, 9)} {r.randint(100, 999)} {r.randint(1, 5)}"),
    (("Step_StandReportReceiver",), lambda r: "screen status unknown,think screen on"),
    (("Step_StandStepCounter",), lambda r: f"getTodayTotalDetailSteps = {_ms(r)}##{r.randint(1000, 9999)}##{r.randint(0, 99)}"),
    (("Step_SPUtils",), lambda r: f"setTodayTotalDetailSteps = {_ms(r)}##{r.randint(1000, 9999)}##{r.randint(0, 99)}"),
    (("Step_SPUtils",), lambda r: f"getSensorTotalSteps steps {r.randint(1000, 99999)} offset {r.randint(0, 500)}"),
    (("Step_ExtSDM",), lambda r: f"calculateCaloriesWithCache totalCalories={r.randint(10000, 999999)}"),
    (("Step_ExtSDM",), lambda r: f"calculateAltitudeWithCache totalAltitude={r.randint(0, 500)}"),
    (("Step_ExtSDM",), lambda r: f"calculateStepCountWithCache totalSteps={r.randint(1000, 9999)} today {r.randint(1, 31)}"),
    (("Step_StepDataMgr",), lambda r: f"upload step record size {r.randint(1, 400)} batch {r.randint(1, 12)}"),
    (("Step_StepDataMgr",), lambda r: f"write step record start={_ms(r)} end={_ms(r)}"),
    (("HiH_HiHealthDataInsertStore",), lambda r: f"saveHealthDetailData() size = {r.randint(1, 50)},type = {r.randint(2, 9)}"),
    (("HiH_HiHealthDataInsertStore",), lambda r: f"insertHealthData() ok count {r.randint(1, 300)}"),
    (("HiH_HiHealthDataInsertStore",), lambda r: f"checkUserPermission userId {r.randint(100000, 999999)} granted"),
    (("HiH_HiSyncUtil",), lambda r: f"syncData() begin app {r.randint(1, 9)} type {r.randint(10000, 10020)}"),
    (("HiH_HiSyncUtil", "HiH_HiHealthBinder"), lambda r: f"syncData() end cost {r.randint(5, 5000)} ms"),
    (("HiH_HiSyncUtil",), lambda r: f"getSyncAnchor anchor = {r.randint(0, 10**6)} for user {r.randint(100000, 999999)}"),
    (("HiH_DataStatManager",), lambda r: f"stat day 201712{r.randint(10, 31)} steps {r.randint(1000, 20000)} calories {r.randint(100, 900)}"),
    (("HiH_DataStatManager",), lambda r: f"statAggregate type {r.randint(40001, 40010)} result {r.randint(0, 5000)}"),
    (("HiH_HiHealthBinder",), lambda r: f"onBind pid {r.randint(1000, 30000)} uid {r.randint(10000, 10200)}"),
    (("HiH_HiHealthBinder",), lambda r: f"registerDataListener listener {r.randint(1, 64)} types {r.randint(1, 9)}"),
    (("HiH_HiHealthBinder",), lambda r: f"unregisterDataListener listener {r.randint(1, 64)}"),
    (("HiH_HiHealthBinder",), lambda r: f"getUserPreference key {r.randint(1, 40)} value {r.randint(0, 99)}"),
    (("Step_StandStepCounter",), lambda r: f"timer tick interval {r.randint(100, 60000)} ms"),
    (("Step_StandStepCounter",), lambda r: f"sensor batch latency {r.randint(100, 9000)} us rate {r.randint(5, 50)} Hz"),
    (("HiH_DataStatManager",), lambda r: f"battery level {r.randint(1, 100)} charging false"),
]
_HEALTHAPP_IDS = {
    "Step_LSC": "30002312",
    "Step_StandReportReceiver": "30002312",
    "Step_StandStepCounter": "30002312",
    "Step_SPUtils": "30002312",
    "Step_ExtSDM": "30002312",
    "Step_StepDataMgr": "30002312",
    "HiH_HiHealthDataInsertStore": "1501",
    "HiH_HiSyncUtil": "1501",
    "HiH_DataStatManager": "2101",
    "HiH_HiHealthBinder": "2101",
}


def healthapp_lines(n: int = 2000, seed: int = 0) -> list[str]:
    """F1: ``20171223-22:15:29:606|Step_LSC|30002312|onStandStepChanged 3579``.
    Template frequencies are Zipf-skewed; gaps are 0-15 s, so 2000 lines
    span a few hours of 15-minute buckets."""
    rng = random.Random(seed)
    weights = [1.0 / (i + 1) for i in range(len(_HEALTHAPP))]
    t = datetime(2017, 12, 23, 22, 15, 29, 606000)
    out = []
    for _ in range(n):
        actions, msg = rng.choices(_HEALTHAPP, weights)[0]
        action = rng.choice(actions)
        ts = t.strftime("%Y%m%d-%H:%M:%S:") + f"{t.microsecond // 1000:03d}"
        out.append(f"{ts}|{action}|{_HEALTHAPP_IDS[action]}|{msg(rng)}")
        t += timedelta(milliseconds=rng.randint(0, 15000))
    return out


# HDFS block life cycle: the first events in order, then a random tail.
# (level, content builder taking (rng, block id))
_HDFS_OPEN = [
    ("INFO", lambda r, b: f"dfs.FSNamesystem: BLOCK* NameSystem.allocateBlock: /user/root/rand/_temporary/_task_{r.randint(10**11, 10**12 - 1)}_m_{r.randint(0, 999):06d}_0/part-{r.randint(0, 999):05d}. {b}"),
    ("INFO", lambda r, b: f"dfs.DataNode$DataXceiver: Receiving block {b} src: /{_ip(r)}:{r.randint(30000, 60000)} dest: /{_ip(r)}:50010"),
    ("INFO", lambda r, b: f"dfs.DataNode$DataXceiver: Receiving block {b} src: /{_ip(r)}:{r.randint(30000, 60000)} dest: /{_ip(r)}:50010"),
    ("INFO", lambda r, b: f"dfs.DataNode$PacketResponder: PacketResponder {r.randint(0, 2)} for block {b} terminating"),
    ("INFO", lambda r, b: f"dfs.DataNode$PacketResponder: Received block {b} of size {r.randint(10**6, 7 * 10**7)} from /{_ip(r)}"),
]
_HDFS_TAIL = [
    ("INFO", lambda r, b: f"dfs.FSNamesystem: BLOCK* NameSystem.addStoredBlock: blockMap updated: {_ip(r)}:50010 is added to {b} size {r.randint(10**6, 7 * 10**7)}"),
    ("INFO", lambda r, b: f"dfs.DataNode$PacketResponder: PacketResponder {r.randint(0, 2)} for block {b} terminating"),
    ("INFO", lambda r, b: f"dfs.DataNode$PacketResponder: Received block {b} of size {r.randint(10**6, 7 * 10**7)} from /{_ip(r)}"),
    ("INFO", lambda r, b: f"dfs.DataNode$DataXceiver: {_ip(r)}:50010 Served block {b} to /{_ip(r)}"),
    ("INFO", lambda r, b: f"dfs.DataBlockScanner: Verification succeeded for {b}"),
    ("INFO", lambda r, b: f"dfs.FSNamesystem: BLOCK* ask {_ip(r)}:50010 to replicate {b} to datanode(s) {_ip(r)}:50010"),
    ("INFO", lambda r, b: f"dfs.DataNode: {_ip(r)}:50010 Starting thread to transfer block {b} to {_ip(r)}:50010"),
    ("INFO", lambda r, b: f"dfs.DataNode$DataTransfer: {_ip(r)}:50010:Transmitted block {b} to /{_ip(r)}:50010"),
    ("INFO", lambda r, b: f"dfs.DataNode$DataXceiver: Received block {b} src: /{_ip(r)}:{r.randint(30000, 60000)} dest: /{_ip(r)}:50010 of size {r.randint(10**6, 7 * 10**7)}"),
    ("INFO", lambda r, b: f"dfs.FSNamesystem: BLOCK* NameSystem.addStoredBlock: Redundant addStoredBlock request received for {b} on {_ip(r)}:50010 size {r.randint(10**6, 7 * 10**7)}"),
    ("WARN", lambda r, b: f"dfs.DataNode$DataXceiver: {_ip(r)}:50010:Got exception while serving {b} to /{_ip(r)}:"),
    ("INFO", lambda r, b: f"dfs.DataNode$BlockReceiver: Exception in receiveBlock for block {b} java.io.IOException: Connection reset by peer"),
    ("INFO", lambda r, b: f"dfs.DataNode$DataXceiver: writeBlock {b} received exception java.io.IOException: Could not read from stream"),
    ("WARN", lambda r, b: f"dfs.PendingReplicationBlocks$PendingReplicationMonitor: PendingReplicationMonitor timed out block {b}"),
    ("ERROR", lambda r, b: f"dfs.DataNode: {_ip(r)}:50010:DataXceiver: java.io.IOException: Block {b} is valid, and cannot be written to."),
]
_HDFS_CLOSE = [
    ("INFO", lambda r, b: f"dfs.FSNamesystem: BLOCK* NameSystem.delete: {b} is added to invalidSet of {_ip(r)}:50010"),
    ("INFO", lambda r, b: f"dfs.FSDataset: Deleting block {b} file /mnt/hadoop/dfs/data/current/subdir{r.randint(0, 63)}/{b}"),
]


def hdfs_lines(n: int = 5000, seed: int = 0) -> list[str]:
    """F2: ``081109 203518 143 INFO dfs.DataNode$DataXceiver: Receiving
    block blk_-1608999687919862906 src: ...``. Block lengths are drawn in
    [5, 30] and sum to exactly ``n``; lines of concurrent blocks interleave
    in time order."""
    rng = random.Random(seed)
    lengths = []
    remaining = n
    while remaining > 30:
        k = rng.randint(5, min(30, remaining - 5))
        lengths.append(k)
        remaining -= k
    if remaining:
        lengths.append(remaining)  # in [5, 30] whenever n >= 5
    tail_weights = [1.0 / (i + 1) for i in range(len(_HDFS_TAIL))]
    events = []
    for bi, k in enumerate(lengths):
        blk = f"blk_{rng.choice(['', '-'])}{rng.randint(10**17, 10**19 - 1)}"
        life = _HDFS_OPEN[:k]
        rest = k - len(life)
        n_close = min(rest, len(_HDFS_CLOSE)) if rng.random() < 0.5 else 0
        life += rng.choices(_HDFS_TAIL, tail_weights, k=rest - n_close)
        life += _HDFS_CLOSE[:n_close]
        t = rng.randint(0, 2 * n)
        for ei, (level, content) in enumerate(life):
            events.append((t, bi, ei, level, content(rng, blk)))
            t += rng.randint(0, 40)
    events.sort(key=lambda e: e[:3])
    t0 = datetime(2008, 11, 9, 20, 35, 18)
    out = []
    for t, _bi, _ei, level, content in events:
        ts = t0 + timedelta(seconds=t)
        pid = rng.randint(13, 35000)
        out.append(f"{ts:%y%m%d} {ts:%H%M%S} {pid} {level} {content}")
    return out


# BGL: (label, content builder); label "-" marks a normal line
_BGL = [
    ("-", lambda r: "RAS KERNEL INFO instruction cache parity error corrected"),
    ("-", lambda r: f"RAS KERNEL INFO generating core.{r.randint(1, 9999)}"),
    ("-", lambda r: f"RAS KERNEL INFO {r.randint(1, 999)} double-hummer alignment exceptions"),
    ("-", lambda r: f"RAS KERNEL INFO CE sym {r.randint(0, 31)}, at 0x{r.randint(0, 2**32 - 1):08x}, mask 0x{r.randint(0, 255):02x}"),
    ("-", lambda r: f"RAS KERNEL INFO total of {r.randint(1, 99)} ddr error(s) detected and corrected"),
    ("-", lambda r: "RAS KERNEL INFO data TLB error interrupt"),
    ("-", lambda r: f"RAS APP FATAL ciod: failed to read message prefix on control stream (CioStream socket to 172.16.{r.randint(96, 127)}.{r.randint(1, 254)}:{r.randint(30000, 60000)}"),
    ("-", lambda r: f"RAS KERNEL INFO {r.randint(1, 9)} L3 EDRAM error(s) (dcr 0x{r.randint(0, 0xffff):04x}) detected and corrected"),
    ("-", lambda r: f"RAS MMCS ERROR idoproxydb hit ASSERT condition: ASSERT expression={r.randint(0, 1)}"),
    ("-", lambda r: f"RAS KERNEL INFO program interrupt: fp cr field .............{r.randint(0, 7)}"),
    ("-", lambda r: f"RAS LINKCARD INFO MidplaneSwitchController performing bit sparing on R{r.randint(0, 77):02d}-M{r.randint(0, 1)} bit {r.randint(0, 31)}"),
    ("KERNDTLB", lambda r: "RAS KERNEL FATAL data TLB error interrupt"),
    ("KERNSTOR", lambda r: "RAS KERNEL FATAL data storage interrupt"),
    ("APPSEV", lambda r: f"RAS APP FATAL ciod: Error reading message prefix after LOGIN_MESSAGE on CioStream socket to 172.16.{r.randint(96, 127)}.{r.randint(1, 254)}:{r.randint(30000, 60000)}"),
]


def bgl_lines(n: int = 2000, seed: int = 0) -> list[str]:
    """F3: ``- 1117838570 2005.06.03 R02-M1-N0-C:J12-U11
    2005-06-03-15.42.50.363779 R02-M1-N0-C:J12-U11 RAS KERNEL INFO ...``.
    Ids are unix seconds 0-3 s apart; ~5% of lines carry an alarm tag."""
    rng = random.Random(seed)
    normal = [t for t in _BGL if t[0] == "-"]
    alarms = [t for t in _BGL if t[0] != "-"]
    weights = [1.0 / (i + 1) for i in range(len(normal))]
    eid = 1117838570
    out = []
    for _ in range(n):
        label, msg = (
            rng.choice(alarms) if rng.random() < 0.05 else rng.choices(normal, weights)[0]
        )
        node = (
            f"R{rng.randint(0, 77):02d}-M{rng.randint(0, 1)}-N{rng.randint(0, 15)}"
            f"-C:J{rng.randint(2, 17):02d}-U{rng.choice([1, 11])}"
        )
        ts = datetime.fromtimestamp(eid, tz=timezone.utc)
        stamp = ts.strftime("%Y-%m-%d-%H.%M.%S.") + f"{rng.randint(0, 999999):06d}"
        out.append(f"{label} {eid} {ts:%Y.%m.%d} {node} {stamp} {node} {msg(rng)}")
        eid += rng.randint(0, 3)
    return out


GENERATORS = {
    # name: (generator, field separator, index of the body field)
    "healthapp": (healthapp_lines, "|", 3),
    "hdfs": (hdfs_lines, " ", 4),
    "bgl": (bgl_lines, " ", 6),
}


def body_lines(name: str, **kw) -> list[str]:
    """Body column of a generated log (the loader's ``logline``)."""
    gen, sep, n = GENERATORS[name]
    return [ln.split(sep, n)[n] for ln in gen(**kw)]


def write_log(path, name: str, **kw) -> str:
    """Write a generated log to ``path``; returns the path as a string."""
    gen, _, _ = GENERATORS[name]
    with open(path, "w") as f:
        f.write("\n".join(gen(**kw)) + "\n")
    return str(path)
