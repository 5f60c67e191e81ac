"""CZI -> OME-Zarr conversion benchmark.

    python3 convbench/run.py --workload hcr_tile --seed 1 --seconds 8 --trace 0
    python3 convbench/run.py --selftest

Run from the repository root. Builds the engine and the harness if a
source changed (see build.py), makes the workload's seeded CZI fixture
(cached per seed, checked by content hash), runs one harness JVM, and
prints every metric by name with its unit and sample count, then, as the
last line of standard output, one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list.

For the s3 workload it starts a moto S3 server on a free local port and,
in traced runs only, a request-counting proxy in front of it. Everything
it writes stays under the build directory. See README.md for the
workloads and their sizing.
"""
import argparse
import hashlib
import http.client
import http.server
import json
import math
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
import urllib.request

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 150
HEAP = "3g"
BUCKET = "convbench"
FIXTURES_KEPT = 2  # per workload, besides the one in use
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
S3_WORKLOADS = {"s3_tiles"}
FIXTURE_SOURCES = ["Content.scala", "Fixtures.scala", "Workloads.scala"]
COLD_SAMPLES = 2  # fresh JVMs per untraced run that each give setup_s and cold_pass_s


def log(msg):
    print(f"convbench: {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


class Jvm:
    """Runs harness mains on the built classpath with the engine's JVM flags."""

    def __init__(self, classpath):
        self.cp = ":".join(classpath)
        self.tmp = os.path.join(build.build_dir(), "tmp")
        os.makedirs(os.path.join(self.tmp, "spark-local"), exist_ok=True)
        self.env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()),
                        SPARK_LOCAL_DIRS=os.path.join(self.tmp, "spark-local"))

    def run(self, main, args, log_path, timeout=JVM_TIMEOUT_S):
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={self.tmp}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", self.cp, main] + args
        with open(log_path, "w") as err:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=self.env, cwd=ROOT)
            try:
                out, _ = p.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise SystemExit(f"{main} timed out after {timeout} s (log: {log_path})")
            except BaseException:
                p.kill()
                p.wait()
                raise
        if p.returncode != 0:
            tail = open(log_path, errors="replace").read()[-3000:]
            raise SystemExit(f"{main} failed with code {p.returncode}; output:\n{out.decode()[-2000:]}"
                             f"log tail:\n{tail}")
        return out.decode()


def fixture_key():
    """Hash of the sources that define the fixtures, so a changed generator
    or workload geometry never reuses an old fixture."""
    h = hashlib.sha256()
    for f in FIXTURE_SOURCES:
        with open(os.path.join(build.BENCH_DIR, "src", "convbench", f), "rb") as src:
            h.update(src.read())
    return h.hexdigest()[:12]


def fixture(jvm, workload, seed):
    """The workload's CZI fixture for `seed`: reused when its manifest's
    hashes match the files, generated otherwise."""
    base = os.path.join(build.build_dir(), "fixtures", workload)
    d = os.path.join(base, f"{fixture_key()}-seed-{seed}")
    manifest = os.path.join(d, "MANIFEST.sha256")
    if os.path.exists(manifest):
        want = dict(line.split("  ", 1)[::-1] for line in open(manifest).read().splitlines())
        have = {os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs}
        have.discard("MANIFEST.sha256")
        if have == set(want) and all(sha256(os.path.join(d, k)) == v for k, v in want.items()):
            os.utime(d)
            return d
        log(f"fixture {d} fails its content hash; regenerating")
    shutil.rmtree(d, ignore_errors=True)
    tmp = f"{d}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t = time.time()
    jvm.run("convbench.Fixtures", [workload, str(seed), tmp], os.path.join(base, "fixtures.log"))
    files = sorted(os.path.relpath(os.path.join(r, f), tmp) for r, _, fs in os.walk(tmp) for f in fs)
    with open(os.path.join(tmp, "MANIFEST.sha256"), "w") as f:
        f.writelines(f"{sha256(os.path.join(tmp, k))}  {k}\n" for k in files)
    os.rename(tmp, d)
    log(f"fixture {workload} seed {seed} generated in {time.time() - t:.1f} s")
    others = sorted((os.path.join(base, e) for e in os.listdir(base)
                     if "-seed-" in e and os.path.join(base, e) != d), key=os.path.getmtime)
    for old in others[:max(0, len(others) - FIXTURES_KEPT)]:
        shutil.rmtree(old, ignore_errors=True)
    return d


class Moto:
    """A moto S3 server on a free local port, with the bucket created."""

    def __init__(self, log_path):
        self.port = free_port()
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "moto.server", "-H", "127.0.0.1", "-p", str(self.port)],
            stdout=self.log, stderr=self.log, cwd=build.build_dir(),
            env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1"))
        self.endpoint = f"http://127.0.0.1:{self.port}"
        deadline = time.time() + 60
        while True:
            if self.proc.poll() is not None:
                self.stop()
                raise SystemExit(f"moto server exited with code {self.proc.returncode} (log: {log_path})")
            try:
                urllib.request.urlopen(self.endpoint + "/", timeout=2).read()
                break
            except OSError:
                if time.time() > deadline:
                    self.stop()
                    raise SystemExit("moto server did not answer within 60 s")
                time.sleep(0.1)
        req = urllib.request.Request(f"{self.endpoint}/{BUCKET}", method="PUT")
        if urllib.request.urlopen(req, timeout=10).status != 200:
            self.stop()
            raise SystemExit("moto: bucket creation failed")

    def stop(self):
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.log.close()


class CountingProxy:
    """HTTP proxy in front of the S3 server that counts requests by kind.
    `GET /__counts` answers the counts since the previous call and resets."""

    def __init__(self, upstream_port):
        self.lock = threading.Lock()
        self.reset()
        proxy = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):
                pass

            def relay(self):
                if self.path.startswith("/__counts"):
                    body = json.dumps(proxy.take()).encode()
                    self.send_response(200)
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                n = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(n) if n else None
                t = time.perf_counter()
                c = http.client.HTTPConnection("127.0.0.1", upstream_port, timeout=60)
                hdrs = {k: v for k, v in self.headers.items() if k.lower() != "connection"}
                c.request(self.command, self.path, body=body, headers=hdrs)
                r = c.getresponse()
                data = r.read()
                ms = (time.perf_counter() - t) * 1e3
                self.send_response(r.status)
                for k, v in r.getheaders():
                    if k.lower() not in ("transfer-encoding", "connection", "content-length"):
                        self.send_header(k, v)
                # a HEAD reply carries the object's length, not the body's
                length = r.getheader("Content-Length") if self.command == "HEAD" else None
                self.send_header("Content-Length", length or str(len(data)))
                self.end_headers()
                if self.command != "HEAD":
                    self.wfile.write(data)
                c.close()
                proxy.count(self.command, self.path, self.headers, n, r.status, ms)

            do_GET = do_PUT = do_HEAD = do_DELETE = do_POST = relay

        self.server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.endpoint = f"http://127.0.0.1:{self.server.server_address[1]}"
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def reset(self):
        self.c = dict.fromkeys(["put", "copy", "head", "delete", "get", "list", "post",
                                "bytes_up", "errors", "requests"], 0)
        self.lat = []

    def count(self, method, path, headers, nbytes, status, ms):
        with self.lock:
            if method == "PUT":
                self.c["copy" if headers.get("x-amz-copy-source") else "put"] += 1
            elif method == "GET":
                self.c["list" if "list-type" in path or path.rstrip("/").count("/") <= 1 else "get"] += 1
            elif method in ("HEAD", "DELETE", "POST"):
                self.c[method.lower()] += 1
            self.c["bytes_up"] += nbytes
            self.c["requests"] += 1
            if status == 429 or status >= 500:
                self.c["errors"] += 1
            self.lat.append(ms)

    def take(self):
        with self.lock:
            out = dict(self.c, request_ms_p50=statistics.median(self.lat) if self.lat else 0.0)
            self.reset()
            return out

    def stop(self):
        self.server.shutdown()
        self.server.server_close()
        self.thread.join()


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def bench(args):
    spec = benchmark_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        raise SystemExit(f"unknown workload {args.workload!r}; BENCHMARK.json has {names}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    jvm = Jvm(build.build())
    fix = fixture(jvm, args.workload, args.seed)
    os.sync()  # no fixture writeback during the timed part
    work = os.path.join(build.build_dir(), "work", args.workload)
    os.makedirs(work, exist_ok=True)
    moto = proxy = None
    try:
        extra = []
        if args.workload in S3_WORKLOADS:
            moto = Moto(os.path.join(work, "moto.log"))
            endpoint = moto.endpoint
            if args.trace:
                proxy = CountingProxy(moto.port)
                endpoint = proxy.endpoint
                extra += ["--counts-url", proxy.endpoint + "/__counts"]
            extra += ["--s3-endpoint", endpoint]

        def harness(label, cold_only):
            result = os.path.join(work, f"result-{label}.json")
            if os.path.exists(result):
                os.remove(result)
            jvm.run("convbench.Main", ["--workload", args.workload, "--seed", str(args.seed),
                                       "--seconds", str(args.seconds), "--trace", "1" if args.trace else "0",
                                       "--fixtures", fix, "--work", os.path.join(work, label),
                                       "--result", result, "--label", label,
                                       "--cold-only", "1" if cold_only else "0"] + extra,
                    os.path.join(work, f"harness-{label}.log"))
            return json.load(open(result))

        res = harness("main", False)
        if not args.trace:
            # set-up and the cold pass happen once per JVM: take their medians
            # over this JVM and COLD_SAMPLES - 1 more that stop after the cold pass
            cold = [res] + [harness(f"cold{k}", True) for k in range(1, COLD_SAMPLES)]
            for name in ("setup_s", "cold_pass_s"):
                values = [r["metrics"][name]["value"] for r in cold]
                res["metrics"][name].update(value=statistics.median(values), samples=len(values))
            for r in cold[1:]:
                res["attempted"] += r["attempted"]
                res["failed"] += r["failed"]
                res["problems"] += r["problems"]
            res["metrics"]["verified_frac"]["value"] = 1.0 - res["failed"] / res["attempted"]
            res["metrics"]["verified_frac"]["samples"] = res["attempted"]
    finally:
        if proxy:
            proxy.stop()
        if moto:
            moto.stop()
    got = res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        raise SystemExit(f"harness did not report {missing}")
    for p in res["problems"]:
        print(f"problem: {p}")
    metrics = {}
    for m in wanted:
        g = got[m["name"]]
        if g["unit"] != m["unit"]:
            raise SystemExit(f"{m['name']}: unit {g['unit']} != {m['unit']} in BENCHMARK.json")
        if not math.isfinite(g["value"]):  # e.g. a rate over a layer that did no work
            print(f"problem: {m['name']} is {g['value']}; reported as 0")
            g["value"] = 0.0
        print(f"{m['name']:32s} {g['value']:>18.6g} {g['unit']:8s} (n={g['samples']})")
        metrics[m["name"]] = {"value": g["value"], "unit": g["unit"]}
    failed = int(res["failed"])
    if not args.trace:
        print(f"{'failed_frac':32s} {failed / res['attempted']:>18.6g} {'frac':8s} (n={res['attempted']})")
    print(json.dumps({"correct": failed == 0 and not res["problems"], "attempted": int(res["attempted"]),
                      "failed": failed, "metrics": metrics}))


def selftest():
    jvm = Jvm(build.build())
    d = os.path.join(build.build_dir(), "selftest")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    out = jvm.run("convbench.SelfTest", [d], os.path.join(build.build_dir(), "selftest.log"), timeout=170)
    print(out, end="")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.selftest:
        selftest()
    elif args.workload:
        bench(args)
    else:
        ap.error("--workload or --selftest is required")


if __name__ == "__main__":
    main()
