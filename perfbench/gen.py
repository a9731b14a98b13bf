"""Seeded synthetic days of netflow and proxy logs.

Every function here is a pure function of its seed: the same seed writes
byte-identical files. Traffic follows per-host (per-client) profiles, since
i.i.d. records leave nothing for a topic model to learn and heavy hosts then
fill the bottom-K. Planted records are written to a side file
(``planted.json``) and never marked in the program's input.

Each planted set has two tiers:

- ``loud``: off-profile on every feature the pipeline's word encodes
  (service, hour, size; for proxy also agent, entropy, method, content
  type), so a working detector ranks them in the bottom-K.
- ``quiet``: drawn from the planting host's own profile (a compromised
  host hiding in its usual traffic). No word-based detector can single
  them out, which keeps ``planted_recall`` below 1 for a reason that does
  not depend on the seed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY = (2016, 1, 22)
DATE = "%04d-%02d-%02d" % DAY
N_FILES = 8

# service port -> (popularity, log-bytes mean)
FLOW_SERVICES = {443: (30, 9.5), 80: (20, 8.5), 53: (15, 5.0), 123: (5, 4.4),
                 25: (5, 8.0), 22: (4, 7.5), 993: (4, 7.0), 389: (3, 6.5),
                 636: (2, 6.8), 110: (2, 7.2)}
# a loud plant talks to a well-known port no profile uses
RARE_PORTS = np.setdiff1d(np.arange(1, 1025), list(FLOW_SERVICES))
FLOW_FEEDBACK_ROWS = 20


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _write_parquet(table: pa.Table, path: str) -> None:
    """Write ``table`` as N_FILES part files so the scan has several splits."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // N_FILES)
    for i in range(N_FILES):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")


def _hours(rng, n, day_mask):
    """Hour of day: a day host works office hours, an around-the-clock host
    any hour."""
    return np.where(day_mask, rng.integers(8, 19, n), rng.integers(0, 24, n))


# ---------------------------------------------------------------- netflow --

class FlowNetwork:
    """Hosts, servers and per-host profiles of one network."""

    def __init__(self, seed: int, n_hosts: int, n_servers: int):
        rng = np.random.default_rng([seed, 1])
        ports = np.array(list(FLOW_SERVICES))
        pop = np.array([v[0] for v in FLOW_SERVICES.values()], float)
        mu = np.array([v[1] for v in FLOW_SERVICES.values()])
        self.n_hosts, self.n_servers = n_hosts, n_servers
        self.hosts = np.array([f"10.{1 + i // 62500}.{(i // 250) % 250}.{1 + i % 250}"
                               for i in range(n_hosts)])
        self.servers = np.array([f"198.{18 + i // 250}.{i % 250}.{7 + i % 200}"
                                 for i in range(n_servers)])
        # every server offers one service
        self.server_port = rng.choice(len(ports), n_servers, p=pop / pop.sum())
        self.server_port[: len(ports)] = np.arange(len(ports))
        # host activity: lognormal, so a few heavy hosts carry much traffic
        act = rng.lognormal(0.0, 1.2, n_hosts)
        self.activity = act / act.sum()
        # 1-3 services per host, 3 favourite servers per (host, service)
        self.n_serv = rng.integers(1, 4, n_hosts)
        self.serv = np.stack([rng.choice(len(ports), 3, replace=False, p=pop / pop.sum())
                              for _ in range(n_hosts)])
        by_port = [np.flatnonzero(self.server_port == p) for p in range(len(ports))]
        self.fav = np.empty((n_hosts, 3, 3), np.int64)
        for h in range(n_hosts):
            for j in range(3):
                self.fav[h, j] = rng.choice(by_port[self.serv[h, j]], 3)
        # a host's transfers on one service have a typical size (+-10%)
        self.byte_base = np.exp(mu[self.serv] + rng.normal(0, 0.15, (n_hosts, 3)))
        self.day_host = rng.random(n_hosts) < 0.8
        self.ports = ports
        # the well-known ports loud plants use on this network
        self.rare_ports = rng.choice(RARE_PORTS, 64, replace=False)

    def flows(self, rng, n: int, hosts=None) -> dict:
        """``n`` flows drawn from the host profiles (``hosts`` fixes the
        sender of each flow)."""
        h = rng.choice(self.n_hosts, n, p=self.activity) if hosts is None else hosts
        j = (rng.random(n) * self.n_serv[h]).astype(np.int64)
        srv = self.fav[h, j, rng.integers(0, 3, n)]
        ibyt = (self.byte_base[h, j] * rng.uniform(0.9, 1.1, n)).astype(np.int64) + 40
        return {
            "sip": self.hosts[h], "dip": self.servers[srv],
            "sport": rng.integers(1025, 65536, n), "dport": self.ports[self.serv[h, j]],
            "hour": _hours(rng, n, self.day_host[h]),
            "ibyt": ibyt, "ipkt": 1 + ibyt // 1000,
        }


def _flow_table(rng, f: dict) -> pa.Table:
    n = len(f["sip"])
    minute, sec = rng.integers(0, 60, n), rng.integers(0, 60, n)
    hour = f["hour"]
    ts = np.char.add(np.char.add(np.char.add(f"{DATE} ", np.char.zfill(hour.astype(str), 2)),
                                 np.char.add(":", np.char.zfill(minute.astype(str), 2))),
                     np.char.add(":", np.char.zfill(sec.astype(str), 2)))
    i32 = lambda a: pa.array(np.asarray(a, np.int32))  # noqa: E731
    const = lambda v, t: pa.array(np.full(n, v), t)  # noqa: E731
    ibyt = np.asarray(f["ibyt"], np.int64)
    ipkt = np.asarray(f["ipkt"], np.int64)
    cols = {
        "treceived": pa.array(ts.tolist()),
        "tryear": const(DAY[0], pa.int32()), "trmonth": const(DAY[1], pa.int32()),
        "trday": const(DAY[2], pa.int32()),
        "trhour": i32(hour), "trminute": i32(minute), "trsec": i32(sec),
        "tdur": pa.array(np.round(rng.exponential(2.0, n), 3)),
        "sip": pa.array(np.asarray(f["sip"]).tolist()),
        "dip": pa.array(np.asarray(f["dip"]).tolist()),
        "sport": i32(f["sport"]), "dport": i32(f["dport"]),
        "proto": pa.array(np.where(np.isin(f["dport"], [53, 123]), "UDP", "TCP").tolist()),
        "flag": const(".AP.SF", pa.string()),
        "fwd": const(0.0, pa.float64()), "stos": const(0.0, pa.float64()),
        "ipkt": pa.array(ipkt), "ibyt": pa.array(ibyt),
        "opkt": pa.array(ipkt), "obyt": pa.array(ibyt // 3),
        "input": const(1, pa.int32()), "output": const(2, pa.int32()),
        "sas": const("0", pa.string()), "das": const("0", pa.string()),
        "dtos": const("0", pa.string()), "dir": const("0", pa.string()),
        "rip": const("10.0.0.1", pa.string()),
    }
    return pa.table(cols)


def _cat(parts: list[dict]) -> dict:
    return {k: np.concatenate([np.asarray(p[k]) for p in parts]) for k in parts[0]}


def _flow_key(f: dict, i: int) -> list:
    return [str(f["sip"][i]), str(f["dip"][i]), int(f["sport"][i]), int(f["dport"][i])]


def flow_day(out: str, seed: int, n_flows: int, n_hosts: int, n_servers: int,
             n_loud: int, n_quiet: int, network_seed: int | None = None,
             feedback: bool = True) -> dict:
    """One netflow day on a network: normal traffic, a nightly backup job
    on a few hosts (rare, benign, confirmed in the feedback TSV) and
    planted flows. Returns the day's manifest."""
    net = FlowNetwork(seed if network_seed is None else network_seed, n_hosts, n_servers)
    rng = np.random.default_rng([seed, 2])
    parts = [net.flows(rng, n_flows - n_loud - n_quiet - (60 if feedback else 0))]

    planted = []
    if feedback:
        # nightly backups: 3 hosts push large ssh transfers to one server at 2am
        bh = rng.choice(n_hosts, 3, replace=False)
        b = {"sip": net.hosts[np.repeat(bh, 20)], "dip": np.full(60, net.servers[0]),
             "sport": rng.integers(1025, 65536, 60), "dport": np.full(60, 22),
             "hour": np.full(60, 2), "ibyt": rng.integers(2 * 10**8, 4 * 10**8, 60)}
        b["ipkt"] = b["ibyt"] // 1400
        parts.append(b)

    # planted flows come from the busiest tenth of hosts; a loud one goes to
    # a server the host uses, on a port, hour and size no host uses
    active = np.argsort(net.activity)[-max(n_hosts // 10, n_loud, n_quiet):]
    if n_loud:
        lh = rng.choice(active, n_loud, replace=False)
        loud = {"sip": net.hosts[lh], "dip": net.servers[net.fav[lh, 0, 0]],
                "sport": rng.integers(1025, 65536, n_loud),
                "dport": rng.choice(net.rare_ports, n_loud, replace=n_loud > 64),
                "hour": rng.integers(1, 5, n_loud),
                "ibyt": rng.integers(5 * 10**8, 10**9, n_loud)}
        loud["ipkt"] = loud["ibyt"] // 1400
        parts.append(loud)
        planted += [["loud"] + _flow_key(loud, i) for i in range(n_loud)]
    if n_quiet:
        quiet = net.flows(rng, n_quiet, hosts=rng.choice(active, n_quiet, replace=False))
        parts.append(quiet)
        planted += [["quiet"] + _flow_key(quiet, i) for i in range(n_quiet)]

    f = _cat(parts)
    order = rng.permutation(len(f["sip"]))
    f = {k: v[order] for k, v in f.items()}
    _write_parquet(_flow_table(rng, f), os.path.join(out, "day.parquet"))

    manifest = {"records": int(len(order)), "planted_key": ["sip", "dip", "sport", "dport"],
                "planted": planted}
    if feedback:
        _flow_feedback(os.path.join(out, "feedback.tsv"), rng, b)
        manifest["feedback"] = "feedback.tsv"
    with open(os.path.join(out, "planted.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def _flow_feedback(path: str, rng, backup: dict) -> None:
    """Analyst feedback in FLOW_FEEDBACK_COLUMNS layout: the backup flows
    confirmed benign (severity 3) plus a few rows of other severities,
    which the pipeline filters out."""
    from oni_ml_spark.schemas import FLOW_FEEDBACK_COLUMNS

    rows = []
    for i in range(FLOW_FEEDBACK_ROWS + 6):
        k = 3 * i % len(backup["sip"])  # rows of all three backup hosts
        sev = 3 if i < FLOW_FEEDBACK_ROWS else 1 + i % 2
        ts = f"{DATE} 02:{rng.integers(0, 60):02d}:{rng.integers(0, 60):02d}"
        vals = {"sev": sev, "tstart": ts, "srcIP": backup["sip"][k], "dstIP": backup["dip"][k],
                "sport": int(backup["sport"][k]), "dport": 22, "proto": "TCP",
                "flag": ".AP.SF", "ipkt": int(backup["ipkt"][k]), "ibyt": int(backup["ibyt"][k]),
                "lda_score": "1e-9", "rank": i}
        rows.append([str(vals.get(c, "-")) for c in FLOW_FEEDBACK_COLUMNS])
    with open(path, "w") as fh:
        fh.write("\t".join(FLOW_FEEDBACK_COLUMNS) + "\n")
        fh.writelines("\t".join(r) + "\n" for r in rows)


# ------------------------------------------------------------------ proxy --

AGENT_FAMILIES = ["Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
                  "(KHTML, like Gecko) Chrome/{v}.0.{b}.0 Safari/537.36",
                  "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_11_{v}) AppleWebKit/601.{b} "
                  "(KHTML, like Gecko) Version/9.0 Safari/601.{b}",
                  "Mozilla/5.0 (Windows NT 6.1; WOW64; rv:{v}.0) Gecko/20100101 Firefox/{v}.0",
                  "Microsoft-CryptoAPI/{v}.{b}", "Windows-Update-Agent/{v}.{b}"]
PATH_WORDS = ["index", "news", "api", "v1", "v2", "static", "images", "css", "js", "user",
              "account", "search", "cart", "product", "item", "login", "media", "assets",
              "content", "article", "2016", "01", "feed", "data", "en-us", "help", "docs"]
CONTENT = ["text/html", "image/png", "image/jpeg", "application/javascript", "text/css",
           "application/json"]


def proxy_day(out: str, seed: int, n_requests: int, n_clients: int, n_domains: int,
              n_loud: int, n_quiet: int) -> dict:
    """One proxy day: each site serves one kind of request (method, content
    type, URI shape); each client visits a few favourite sites with its own
    browser during office hours. Plus a top-domains CSV and planted
    requests. Returns the day's manifest."""
    rng = np.random.default_rng([seed, 3])
    words = np.array(PATH_WORDS)
    domains = np.array([f"{words[rng.integers(0, len(words))]}{i}.{['com', 'net', 'org'][i % 3]}"
                        for i in range(n_domains)])
    dom_pop = _zipf_weights(n_domains, 1.1)
    dom_content = rng.choice(len(CONTENT), n_domains, p=[.4, .2, .15, .1, .1, .05])
    dom_post = rng.random(n_domains) < 0.1
    dom_code = np.where(rng.random(n_domains) < 0.8, "200", "304")
    dom_path = ["/" + "/".join(words[rng.integers(0, len(words), rng.integers(1, 6))])
                for _ in range(n_domains)]
    agents = np.array([AGENT_FAMILIES[i % 5].format(v=40 + i // 5, b=2000 + 7 * i)
                       for i in range(60)])
    agent_pop = _zipf_weights(len(agents), 1.3)

    clients = np.array([f"172.{16 + i // 62500}.{(i // 250) % 250}.{1 + i % 250}"
                        for i in range(n_clients)])
    act = rng.lognormal(0.0, 1.0, n_clients)
    fav = np.stack([rng.choice(n_domains, 8, replace=False, p=dom_pop) for _ in range(n_clients)])
    client_agent = rng.choice(len(agents), n_clients, p=agent_pop)

    # normal requests, then quiet plants drawn from their clients' profiles
    n_norm = n_requests - n_loud - n_quiet
    c = np.concatenate([rng.choice(n_clients, n_norm, p=act / act.sum()),
                        rng.choice(n_clients, n_quiet, replace=False)])
    n = len(c)
    d = fav[c, np.minimum(rng.geometric(0.35, n) - 1, 7)]
    host = domains[d].tolist()
    agent = agents[client_agent[c]].tolist()
    hour = _hours(rng, n, np.ones(n, bool)).tolist()
    method = np.where(dom_post[d], "POST", "GET").tolist()
    content = np.array(CONTENT)[dom_content[d]].tolist()
    respcode = dom_code[d].tolist()
    ids = rng.integers(0, 10**6, n)
    paths = [f"{dom_path[d[i]]}/{ids[i]}.html" for i in range(n)]
    queries = [f"id={v}&page={v % 7}" for v in rng.integers(0, 10**6, n)]

    # loud, from the busiest 2% of clients: unseen domain, one-off agent,
    # random payload, odd method and content, server error, at night
    alphabet = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"))
    busiest = np.argsort(act)[-max(n_clients // 50, n_loud):]
    c = np.concatenate([c, rng.choice(busiest, n_loud, replace=False)])
    host += [f"x{v}.biz" for v in rng.integers(10**6, 10**7, n_loud)]
    agent += [f"curl/7.{i}.{v:x}" for i, v in enumerate(rng.integers(10**5, 10**6, n_loud))]
    hour += rng.integers(1, 5, n_loud).tolist()
    method += rng.choice(["PUT", "DELETE", "OPTIONS", "PROPFIND", "TRACE", "PATCH"], n_loud).tolist()
    content += rng.choice(["application/octet-stream", "video/mp4", "audio/mpeg", "font/woff",
                           "model/vrml"], n_loud).tolist()
    respcode += rng.choice(["500", "503", "101", "407"], n_loud).tolist()
    paths += ["/upload"] * n_loud
    queries += ["d=" + "".join(alphabet[rng.integers(0, 64, 160)]) for _ in range(n_loud)]
    total = len(c)

    minute, sec = rng.integers(0, 60, total), rng.integers(0, 60, total)
    p_time = [f"{hour[i]:02d}:{minute[i]:02d}:{sec[i]:02d}" for i in range(total)]
    fulluri = [f"http://{host[i]}{paths[i]}?{queries[i]}" for i in range(total)]
    planted = [["quiet", str(clients[c[i]]), fulluri[i]] for i in range(n_norm, n)]
    planted += [["loud", str(clients[c[i]]), fulluri[i]] for i in range(n, total)]

    order = rng.permutation(total)
    pick = lambda a: [a[i] for i in order]  # noqa: E731
    const = lambda v: [v] * total  # noqa: E731
    cols = {
        "p_date": const(DATE), "p_time": pick(p_time), "clientip": pick(clients[c].tolist()),
        "host": pick(host), "reqmethod": pick(method), "useragent": pick(agent),
        "resconttype": pick(content),
        "duration": pa.array(rng.integers(1, 5000, total).astype(np.int32)),
        "username": const("-"), "authgroup": const("-"), "exceptionid": const("-"),
        "filterresult": const("OBSERVED"), "webcat": const("Technology/Internet"),
        "referer": const("-"), "respcode": pick(respcode),
        "action": const("TCP_NC_MISS"), "urischeme": const("http"), "uriport": const("80"),
        "uripath": pick(paths), "uriquery": pick(queries), "uriextension": const("html"),
        "serverip": const("203.0.113.10"),
        "scbytes": pa.array(rng.integers(200, 200_000, total).astype(np.int32)),
        "csbytes": pa.array(rng.integers(100, 2000, total).astype(np.int32)),
        "virusid": const("-"), "bcappname": const("-"), "bcappoper": const("-"),
        "fulluri": pick(fulluri),
    }
    from oni_ml_spark.schemas import PROXY_SCHEMA

    _write_parquet(pa.table({k: cols[k] for k in PROXY_SCHEMA.fieldNames()}),
                   os.path.join(out, "day.parquet"))
    with open(os.path.join(out, "top-1m.csv"), "w") as fh:
        fh.writelines(f"{r + 1},{d}\n" for r, d in enumerate(domains[: n_domains // 5]))
    manifest = {"records": total, "planted_key": ["clientip", "fulluri"], "planted": planted,
                "topdomains": "top-1m.csv"}
    with open(os.path.join(out, "planted.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest
