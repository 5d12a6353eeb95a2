"""Seeded node_exporter-shaped remote-write bodies.

A body is ``snappy(prompb.WriteRequest)`` as a Prometheus shard sends it:
one sample (sometimes two) for each of a contiguous run of series, 100 to
2000 samples in all (log-uniform), every series carrying ~8 labels, a small
share of stale markers, and copy-bearing snappy.

Bodies are built from a few compressed templates (a series run plus sample
slots). Each body patches fresh values and timestamps into a template's
holes, so only the templates pay the Python compression cost. Every sample
of body ``k`` carries timestamp ``T0_MS + k * BODY_STRIDE_MS + j`` (``j``
indexes the series' samples in the body), so ``(series, timestamp)`` is
unique across a run and names the body it came from.
"""

from __future__ import annotations

import math
import random
import struct
from dataclasses import dataclass

from layerbench import snappy

T0_MS = 1_760_000_000_000  # 6-byte varint for every timestamp used
BODY_STRIDE_MS = 1000
STALE_NAN = struct.unpack("<d", struct.pack("<Q", 0x7FF0000000000002))[0]
STALE_SHARE = 0.01
N_TEMPLATES = 48

_CPU_MODES = ("idle", "iowait", "irq", "nice", "softirq", "steal", "system", "user")
_NET_DEVS = ("eth0", "eth1", "lo")
_DISKS = ("nvme0n1", "sda", "sdb")
_FILESYSTEMS = (("/dev/nvme0n1p1", "ext4", "/"), ("/dev/sda1", "xfs", "/data"),
                ("tmpfs", "tmpfs", "/run"))


def series_universe(n_hosts: int, cpus: int = 4) -> list[tuple[dict, str]]:
    """``[(labels, kind)]`` for ``n_hosts`` node_exporter targets; ``kind``
    is ``counter`` or ``gauge`` and shapes the generated values."""
    out: list[tuple[dict, str]] = []
    for h in range(n_hosts):
        base = {
            "instance": f"node-{h:03d}.prod.example.net:9100",
            "job": "node",
            "env": "prod",
            "region": ("eu-west-1", "us-east-1", "ap-northeast-1")[h % 3],
            "datacenter": f"dc{h % 5}",
            "team": ("infra", "storage", "web")[h % 3],
        }

        def add(name: str, kind: str, **extra: str) -> None:
            out.append(({"__name__": name, **base, **extra}, kind))

        for cpu in range(cpus):
            for mode in _CPU_MODES:
                add("node_cpu_seconds_total", "counter", cpu=str(cpu), mode=mode)
        for dev in _NET_DEVS:
            add("node_network_receive_bytes_total", "counter", device=dev)
            add("node_network_transmit_bytes_total", "counter", device=dev)
        for dev in _DISKS:
            add("node_disk_read_bytes_total", "counter", device=dev)
            add("node_disk_written_bytes_total", "counter", device=dev)
        for dev, fstype, mnt in _FILESYSTEMS:
            add("node_filesystem_avail_bytes", "gauge", device=dev,
                fstype=fstype, mountpoint=mnt)
        add("node_memory_MemAvailable_bytes", "gauge")
        for w in ("1", "5", "15"):
            add(f"node_load{w}", "gauge")
    return out


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _uvarint((field << 3) | 2) + _uvarint(len(payload)) + payload


@dataclass
class Template:
    series: list[int]  # series ids, in body order
    spp: int  # samples per series
    raw: bytes  # WriteRequest with placeholder samples
    value_pos: list[int]  # raw offset of each sample's 8 value bytes
    ts_pos: list[int]  # raw offset of each sample's 6 timestamp bytes
    comp: snappy.Compressed


def _encode_template(universe, series: list[int], spp: int):
    """WriteRequest bytes with placeholder samples, and the sample slots."""
    out = bytearray()
    value_pos: list[int] = []
    ts_pos: list[int] = []
    ts_bytes = _uvarint(T0_MS)
    sample = b"\x09" + b"\x00" * 8 + b"\x10" + ts_bytes
    for sid in series:
        labels, _ = universe[sid]
        body = bytearray()
        for name, value in labels.items():
            body += _len_delim(1, _len_delim(1, name.encode()) + _len_delim(2, value.encode()))
        rel: list[int] = []
        for _ in range(spp):
            body += _uvarint((2 << 3) | 2) + _uvarint(len(sample))
            rel.append(len(body))
            body += sample
        header = _uvarint((1 << 3) | 2) + _uvarint(len(body))
        base = len(out) + len(header)
        for r in rel:
            value_pos.append(base + r + 1)
            ts_pos.append(base + r + 10)
        out += header + body
    return bytes(out), value_pos, ts_pos


def build_templates(rng: random.Random, universe, n_templates: int) -> list[Template]:
    """Body sizes at evenly spaced quantiles of log-uniform(100, 2000), so
    every seed gets the same size mix; one template in five carries two
    samples per series. The seed picks which series each one covers."""
    out = []
    for i in range(n_templates):
        q = (i + 0.5) / n_templates
        n_samples = int(math.exp(math.log(100) + q * math.log(2000 / 100)))
        spp = 2 if i % 5 == 2 else 1
        n_series = max(1, n_samples // spp)
        start = rng.randrange(len(universe))
        series = [(start + j) % len(universe) for j in range(n_series)]
        raw, value_pos, ts_pos = _encode_template(universe, series, spp)
        holes = sorted([(p, p + 8) for p in value_pos] + [(p, p + 6) for p in ts_pos])
        out.append(Template(series, spp, raw, value_pos, ts_pos,
                            snappy.compress(raw, holes)))
    return out


@dataclass
class Body:
    index: int
    wire: bytes  # snappy(WriteRequest), what is POSTed
    # expected delivery: (series id, timestamp ms, value or None if stale)
    samples: list[tuple[int, int, float | None]]


class BodyFactory:
    """Deterministic bodies for one seed: ``make(k)`` always returns the
    same body ``k``. Counters grow monotonically across bodies; gauges
    wander; ~1% of samples are stale markers (NaN on the wire, ``null``
    after relay).

    ``decompress`` (``prompb.snappy_decompress``) round-trips every body
    before it is handed out; a mismatch raises."""

    def __init__(self, seed: int, decompress, n_hosts: int = 60,
                 n_templates: int = N_TEMPLATES):
        rng = random.Random(seed)
        self.decompress = decompress
        self.seed = seed
        self.universe = series_universe(n_hosts)
        self.templates = build_templates(rng, self.universe, n_templates)
        srng = random.Random(seed ^ 0x5EED)
        # per-series value model: (start, slope per ms)
        self.model = []
        for _, kind in self.universe:
            if kind == "counter":
                self.model.append((srng.choice((1e3, 1e6, 1e9)) * srng.random(),
                                   srng.random() * srng.choice((1e-3, 1.0, 1e3))))
            else:
                self.model.append((srng.uniform(-1e3, 1e12), 0.0))

    def make(self, k: int) -> Body:
        """Body ``k``: templates are used in seeded rounds, each template
        once per round, so any run of bodies has the same size mix."""
        rng = random.Random((self.seed << 20) ^ k)
        n = len(self.templates)
        order = list(range(n))
        random.Random((self.seed << 20) ^ (k // n) ^ 0xB0D1E5).shuffle(order)
        tpl = self.templates[order[k % n]]
        edits: list[tuple[int, bytes]] = []
        samples: list[tuple[int, int, float | None]] = []
        i = 0
        for sid in tpl.series:
            start, slope = self.model[sid]
            for j in range(tpl.spp):
                ts = T0_MS + k * BODY_STRIDE_MS + j
                if rng.random() < STALE_SHARE:
                    v = STALE_NAN
                elif slope:
                    v = start + slope * (ts - T0_MS)
                else:
                    v = start * (1 + 0.01 * rng.uniform(-1, 1))
                edits.append((tpl.value_pos[i], struct.pack("<d", v)))
                edits.append((tpl.ts_pos[i], _uvarint(ts)))
                samples.append((sid, ts, None if math.isnan(v) else v))
                i += 1
        # edits are in ascending raw order by construction
        wire = tpl.comp.patch(edits)
        raw = bytearray(tpl.raw)
        for pos, new in edits:
            raw[pos : pos + len(new)] = new
        if self.decompress(wire) != raw:
            raise RuntimeError(f"body {k}: snappy round trip differs")
        return Body(k, wire, samples)
