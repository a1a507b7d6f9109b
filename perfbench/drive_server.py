"""Fake Google Drive v3 server for the analyst_folder workload.

Run as its own process on loopback: ``python3 drive_server.py``. It prints
``PORT <n>`` on its first stdout line and serves until terminated.

It speaks the wire format ``HttpDriveClient`` uses: paged ``files.list``
(100 files per page, ``nextPageToken``), resumable upload sessions opened by
``POST`` (create) or ``PATCH`` (update in place) and filled by ``PUT`` chunks
with ``Content-Range``, answered ``308`` until complete. It injects no faults
and applies no rate limits. Every Drive request is counted, as are uploaded
body bytes. ``GET .../files/<id>?alt=media`` serves a payload back for
verification; it and the control endpoints under ``/__bench/`` are not
counted:

- ``POST /__bench/seed`` with ``{"folder": f, "names": [...]}`` creates
  spreadsheets directly, as if an earlier run had published them;
- ``GET /__bench/stats`` returns ``{"requests": n, "bytes_uploaded": m}``;
- ``GET /__bench/files`` lists every file with its name.
"""

from __future__ import annotations

import json
import sys
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

PAGE_SIZE = 100
SPREADSHEET_MIME = "application/vnd.google-apps.spreadsheet"


class DriveState:
    def __init__(self):
        self.lock = threading.Lock()
        self.files: dict[str, dict] = {}  # id -> {id, name, mimeType, parents}
        self.payloads: dict[str, bytes] = {}
        self.sessions: dict[str, dict] = {}  # session id -> {meta, file_id, buf}
        self.next_id = 0
        self.requests = 0
        self.bytes_uploaded = 0

    def new_id(self, prefix: str) -> str:
        self.next_id += 1
        return f"{prefix}{self.next_id:06d}"


class Handler(BaseHTTPRequestHandler):
    state: DriveState
    protocol_version = "HTTP/1.1"

    def log_message(self, *args):
        pass

    def _json(self, code: int, obj, headers: dict | None = None) -> None:
        body = json.dumps(obj).encode()
        self.send_response(code)
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> bytes:
        return self.rfile.read(int(self.headers.get("Content-Length", 0)))

    def _count(self, uploaded: int = 0) -> None:
        with self.state.lock:
            self.state.requests += 1
            self.state.bytes_uploaded += uploaded

    def do_GET(self):
        url = urllib.parse.urlparse(self.path)
        st = self.state
        if url.path == "/__bench/stats":
            with st.lock:
                return self._json(200, {"requests": st.requests, "bytes_uploaded": st.bytes_uploaded})
        if url.path == "/__bench/files":
            with st.lock:
                return self._json(200, sorted(st.files.values(), key=lambda f: f["id"]))
        if url.path.startswith("/drive/v3/files/"):
            body = st.payloads.get(url.path.rsplit("/", 1)[1])
            if body is None:
                return self._json(404, {"error": "no such file"})
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        if url.path != "/drive/v3/files":
            return self._json(404, {"error": "not found"})
        self._count()
        qs = urllib.parse.parse_qs(url.query)
        q = qs.get("q", [""])[0]
        folder = q.split("'")[1] if "'" in q else ""
        with st.lock:
            files = sorted(
                (f for f in st.files.values() if folder in f["parents"]), key=lambda f: f["id"]
            )
        start = int(qs.get("pageToken", ["0"])[0] or 0)
        out = {
            "files": [
                {k: f[k] for k in ("id", "name", "mimeType")}
                for f in files[start : start + PAGE_SIZE]
            ]
        }
        if start + PAGE_SIZE < len(files):
            out["nextPageToken"] = str(start + PAGE_SIZE)
        self._json(200, out)

    def _open_session(self, file_id: str | None) -> None:
        self._count()
        meta = json.loads(self._body().decode())
        with self.state.lock:
            if file_id is not None and file_id not in self.state.files:
                return self._json(404, {"error": "no such file"})
            sid = self.state.new_id("sess")
            self.state.sessions[sid] = {"meta": meta, "file_id": file_id, "buf": b""}
        self._json(200, {}, headers={"Location": f"http://{self.headers['Host']}/upload/session/{sid}"})

    def do_POST(self):
        url = urllib.parse.urlparse(self.path)
        if url.path == "/__bench/seed":
            spec = json.loads(self._body().decode())
            with self.state.lock:
                for name in spec["names"]:
                    fid = self.state.new_id("file")
                    self.state.files[fid] = {
                        "id": fid,
                        "name": name,
                        "mimeType": SPREADSHEET_MIME,
                        "parents": [spec["folder"]],
                    }
                    self.state.payloads[fid] = b"stale\n"
            return self._json(200, {})
        if url.path == "/upload/drive/v3/files":
            return self._open_session(None)
        self._json(404, {"error": "not found"})

    def do_PATCH(self):
        url = urllib.parse.urlparse(self.path)
        if url.path.startswith("/upload/drive/v3/files/"):
            return self._open_session(url.path.rsplit("/", 1)[1])
        self._json(404, {"error": "not found"})

    def do_PUT(self):
        url = urllib.parse.urlparse(self.path)
        chunk = self._body()
        self._count(len(chunk))
        st = self.state
        with st.lock:
            sess = st.sessions.get(url.path.rsplit("/", 1)[1])
            if not url.path.startswith("/upload/session/") or sess is None:
                return self._json(404, {"error": "no session"})
            spec, total = self.headers.get("Content-Range", "").split(" ")[1].split("/")
            first = int(spec.split("-")[0])
            sess["buf"] = sess["buf"][:first] + chunk
            if len(sess["buf"]) < int(total):
                return self._json(308, {}, headers={"Range": f"bytes=0-{len(sess['buf']) - 1}"})
            fid = sess["file_id"] or st.new_id("file")
            meta, old = sess["meta"], st.files.get(fid, {})
            st.files[fid] = {
                "id": fid,
                "name": meta.get("name", old.get("name")),
                "mimeType": meta.get("mimeType", old.get("mimeType")),
                "parents": meta.get("parents", old.get("parents", [])),
            }
            st.payloads[fid] = sess.pop("buf")
            del st.sessions[url.path.rsplit("/", 1)[1]]
        self._json(200, {"id": fid})


def main() -> None:
    handler = type("BoundHandler", (Handler,), {"state": DriveState()})
    server = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    print(f"PORT {server.server_port}", flush=True)
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()


if __name__ == "__main__":
    sys.exit(main())
