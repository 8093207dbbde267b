"""Serving-process launcher: runs scripts/serve.py's SearchApp and request
handler on 127.0.0.1 (an OS-assigned port, printed as `PORT <n>`).

    python3 perfbench/server.py --index STORE [--spans OUT.json]

With --spans the serving layers are wrapped in spans (perfbench/spans.py);
each request's `rid` query parameter becomes its request id. SIGTERM stops
the server; the spans are written after the last request has finished.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import signal
import sys
import threading
from http.server import ThreadingHTTPServer
from pathlib import Path
from urllib.parse import parse_qs, urlparse

ROOT = Path(__file__).resolve().parents[1]


def load_serve_module():
    spec = importlib.util.spec_from_file_location("serve", ROOT / "scripts" / "serve.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--spans")
    args = ap.parse_args()
    sys.path.insert(0, str(ROOT))
    serve = load_serve_module()
    recorder = None
    if args.spans:
        from spans import RID, Recorder

        recorder = Recorder()
        recorder.install(serve)
    app = serve.SearchApp(args.index).warm()
    base = serve.make_handler(app)
    if recorder is None:
        handler = base
    else:
        class handler(base):  # noqa: N801 (stdlib handler class)
            def do_GET(self):  # noqa: N802 (stdlib API name)
                rid = parse_qs(urlparse(self.path).query).get("rid", [None])[0]
                RID.set(int(rid) if rid is not None else None)
                super().do_GET()

    srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    srv.daemon_threads = False  # server_close() joins in-flight requests
    signal.signal(signal.SIGTERM,
                  lambda *_: threading.Thread(target=srv.shutdown).start())
    print(f"PORT {srv.server_address[1]}", flush=True)
    srv.serve_forever()
    srv.server_close()
    if recorder is not None:
        recorder.dump(args.spans)
    os._exit(0)  # serving pools are non-daemon; nothing is left to flush


if __name__ == "__main__":
    main()
