"""HTTP catalog + query server — `railgun serve` twin on Flask.

Route parity with railgun/router/RailgunRouter.go:
  GET/POST   /{plural}.{ext}                 list / add        (:109-115)
  GET/POST/DELETE /{plural}/{name}.{ext}     get / update / delete (:117-125)
  POST       /services/{name}/exec.{ext}     stored query exec (:127)
  POST       /jobs/{name}/exec.{ext}         job exec          (:129)
  POST       /workflows/{name}/exec.{ext}    sequential jobs   (:131)
  GET        /layers/{name}/items.{ext}      dfl + limit items (:132, ItemsHandler.go:43-194)
  GET        /layers/{name}/tiles/data/{z}/{x}/{y}.{ext}   (:133)
  GET        /layers/{name}/tiles/mask/{z}/{x}/{y}.{png|gif|jpg} (:135)
  GET        /dfl/functions.{ext}            function catalog  (:65)
  GET        /gss/formats.{ext}              format list       (:58)
  GET        /health.{ext}                   liveness          (:54, HealthHandler.go:20-33)
  GET        /                               landing page      (:50, HomeHandler.go)

Content negotiation by URL extension (json|yaml), as in
util/SplitNameFormatCompression.go:14-106 / BaseHandler.go:206-228.
JWT auth: POST /authenticate.{ext} with {username, password} issues an
RS512 bearer token (AuthenticateHandler.go, root password check); mutating
catalog routes (POST/DELETE) then require a valid token, as GroupHandler
Post / ItemHandler Post+Delete do (GroupHandler.go:100-109,
ItemHandler.go:127-136,202-211). Auth activates when create_app is given a
root_password; without one the server stays open (dev mode).

The server is a driver-side veneer: every request compiles to a DataFrame
plan executed by the shared SparkSession; the catalog's TTL/mtime memos
(registry.py `Memo`) bound repeated reads like the reference's 5-minute
cache (cache/Cache.go:79), and the tile routes memoize encoded bodies with
the same type."""

from __future__ import annotations

import json

from railgun_spark.catalog.models import MODEL_TYPES, to_dict
from railgun_spark.catalog.registry import AlreadyExists, Catalog, DependencyError, Memo, NotFound
from railgun_spark.functions import functions as dfl_functions
from railgun_spark.sources.formats import FORMATS

_PLURAL_TO_KIND = {
    "workspaces": "Workspace",
    "datastores": "DataStore",
    "layers": "Layer",
    "processes": "Process",
    "services": "Service",
    "jobs": "Job",
    "workflows": "Workflow",
}


def _render(payload, ext: str):
    from flask import Response

    if ext in ("yaml", "yml"):
        import yaml

        return Response(yaml.safe_dump(payload), mimetype="application/yaml")
    return Response(json.dumps(payload, default=str), mimetype="application/json")


def _df_payload(result, limit: int | None = 1000):
    from pyspark.sql import DataFrame

    if isinstance(result, DataFrame):
        if limit is not None:
            result = result.limit(limit)
        return [r.asDict(recursive=True) for r in result.collect()]
    return result


def _swagger_doc() -> dict:
    """Swagger 2.0 document generated from the route table + MODEL_TYPES
    dataclass fields — SwaggerHandler parity (SwaggerHandler.go:59-187
    BuildPaths over the catalog types)."""
    import dataclasses

    ext_param = {
        "name": "ext", "type": "string", "in": "path", "required": True,
        "default": "json", "enum": ["json", "yaml"],
        "description": "File extension",
    }
    name_param = {"name": "name", "type": "string", "in": "path", "required": True}
    ok = {"200": {"description": "Success"}}
    paths: dict = {}
    for plural, kind_name in _PLURAL_TO_KIND.items():
        singular = kind_name.lower()
        tags = [kind_name]
        paths[f"/{plural}.{{ext}}"] = {
            "get": {"description": f"list {plural}", "tags": tags,
                    "parameters": [ext_param], "responses": ok},
            "post": {"description": f"add a {singular}", "tags": tags,
                     "parameters": [
                         {"name": singular, "in": "body", "required": True,
                          "schema": {"$ref": f"#/definitions/{kind_name}"}},
                         ext_param,
                     ],
                     "responses": ok},
        }
        paths[f"/{plural}/{{name}}.{{ext}}"] = {
            "get": {"description": f"get a {singular}", "tags": tags,
                    "parameters": [name_param, ext_param], "responses": ok},
            "post": {"description": f"update a {singular}", "tags": tags,
                     "parameters": [name_param, ext_param], "responses": ok},
            "delete": {"description": f"delete a {singular} (dependency-checked)",
                       "tags": tags, "parameters": [name_param, ext_param],
                       "responses": ok},
        }
    for path, desc in (
        ("/authenticate.{ext}", "authenticate and receive an RS512 bearer token"),
        ("/services/{name}/exec.{ext}", "execute a service's stored query"),
        ("/jobs/{name}/exec.{ext}", "execute a job"),
        ("/workflows/{name}/exec.{ext}", "execute a workflow's jobs sequentially"),
    ):
        params = [ext_param] if "{name}" not in path else [name_param, ext_param]
        paths[path] = {"post": {"description": desc, "parameters": params, "responses": ok}}
    for path, desc in (
        ("/layers/{name}/items.{ext}", "layer items with optional dfl + limit"),
        ("/layers/{name}/tiles/data/{z}/{x}/{y}.{ext}", "GeoJSON tile data"),
        ("/layers/{name}/tiles/mask/{z}/{x}/{y}.{ext}", "rasterized density mask (png/gif/jpg)"),
        ("/dfl/functions.{ext}", "DFL function catalog"),
        ("/gss/formats.{ext}", "serialization format list"),
        ("/swagger.{ext}", "this document"),
        ("/health.{ext}", "liveness: status, Spark session, catalog counts"),
    ):
        params = [name_param, ext_param] if "{name}" in path else [ext_param]
        paths[path] = {"get": {"description": desc, "parameters": params, "responses": ok}}
    paths["/"] = {"get": {"description": "catalog landing page (HTML)",
                          "parameters": [], "responses": ok}}

    definitions = {}
    for kind_name, kind in MODEL_TYPES.items():
        props = {}
        for f in dataclasses.fields(kind):
            t = "string"
            if f.type in ("int", "float"):
                t = "number"
            elif str(f.type).startswith(("list", "tuple", "dict")):
                t = "object" if str(f.type).startswith("dict") else "array"
            props[f.name] = {"type": t}
        definitions[kind_name] = {"type": "object", "properties": props}

    return {
        "swagger": "2.0",
        "info": {"title": "railgun_spark", "version": "1.0"},
        "basePath": "/",
        "paths": paths,
        "definitions": definitions,
    }


def create_app(
    catalog: Catalog,
    root_password: str | None = None,
    session_duration: float = 3600.0,
    private_key=None,
):
    from flask import Flask, Response, request

    from railgun_spark import auth as _auth

    app = Flask("railgun_spark")
    if root_password is not None and private_key is None:
        private_key = _auth.generate_keypair()
    public_key = private_key.public_key() if private_key is not None else None
    # encoded tile bodies per format: a second level over the catalog's
    # format-free grid/feature memos, because encoding is per-extension
    # and GIL-bound (the gif/jpg encoders were the residual ~120 ms at
    # 12-wide). An entry is stamped with id() of the catalog value it
    # encodes and holds that value, so the id cannot be reused while the
    # entry lives: a warm repeat is a lookup, a recomputed value re-encodes.
    data_bodies, mask_bodies = Memo(256), Memo(1024)

    def _encoded(memo: Memo, key: tuple, value, encode):
        _, body, mime = memo.get(
            key, id(value), float("inf"), lambda: (value, *encode(value))
        )
        return Response(body, mimetype=mime)

    def _require_auth():
        """Bearer check for mutating routes (GroupHandler.go:100-109).
        Returns None when authorized, else a (response, status) pair."""
        if root_password is None:
            return None
        try:
            token = _auth.bearer_from_header(request.headers.get("Authorization"))
            _auth.parse_token(public_key, token)
        except _auth.InvalidToken as e:
            return _render({"error": str(e)}, "json"), 401
        return None

    @app.errorhandler(NotFound)
    def _nf(e):
        return _render({"error": str(e)}, "json"), 404

    @app.errorhandler(AlreadyExists)
    def _ae(e):
        return _render({"error": str(e)}, "json"), 409

    @app.errorhandler(DependencyError)
    def _de(e):
        return _render({"error": str(e)}, "json"), 400

    @app.route("/authenticate.<ext>", methods=["POST"])
    def authenticate(ext):
        body = request.get_json(silent=True) or {}
        username, password = body.get("username"), body.get("password")
        if not username or not password:
            return _render({"error": "username and password required"}, ext), 400
        if root_password is None:
            return _render({"error": "authentication not enabled"}, ext), 404
        if username != "root" or password != root_password:
            return _render(
                {"success": False, "username": username,
                 "message": f"error authenticating as {username}"},
                ext,
            ), 401
        token = _auth.sign_token(private_key, username, session_duration)
        return _render({"success": True, "token": token}, ext)

    @app.route("/<plural>.<ext>", methods=["GET", "POST"])
    def group(plural, ext):
        kind_name = _PLURAL_TO_KIND.get(plural)
        if kind_name is None:
            return _render({"error": f"unknown collection {plural}"}, ext), 404
        kind = MODEL_TYPES[kind_name]
        if request.method == "POST":
            denied = _require_auth()
            if denied:
                return denied
            body = request.get_json(force=True)
            try:
                obj = kind(**body)
            except TypeError as e:
                return _render({"error": f"invalid {kind_name} payload: {e}"}, ext), 400
            catalog.add(obj)
            return _render({"success": True}, ext)
        return _render([to_dict(o) for o in catalog.list(kind)], ext)

    @app.route("/<plural>/<name>.<ext>", methods=["GET", "POST", "DELETE"])
    def item(plural, name, ext):
        kind_name = _PLURAL_TO_KIND.get(plural)
        if kind_name is None:
            return _render({"error": f"unknown collection {plural}"}, ext), 404
        kind = MODEL_TYPES[kind_name]
        if request.method in ("POST", "DELETE"):
            denied = _require_auth()
            if denied:
                return denied
        if request.method == "DELETE":
            catalog.delete(kind, name)
            return _render({"success": True}, ext)
        if request.method == "POST":
            body = request.get_json(force=True)
            try:
                body["name"] = name
                obj = kind(**body)
            except TypeError as e:
                return _render({"error": f"invalid {kind_name} payload: {e}"}, ext), 400
            catalog.update(obj)
            return _render({"success": True}, ext)
        return _render(to_dict(catalog.get(kind, name)), ext)

    @app.route("/services/<name>/exec.<ext>", methods=["POST"])
    def service_exec(name, ext):
        denied = _require_auth()  # exec = compute; bearer-gated like mutations
        if denied:
            return denied
        body = request.get_json(silent=True) or {}
        result = catalog.exec_service(name, body.get("variables", {}))
        return _render(_df_payload(result), ext)

    @app.route("/jobs/<name>/exec.<ext>", methods=["POST"])
    def job_exec(name, ext):
        denied = _require_auth()  # jobs can write datastores
        if denied:
            return denied
        result = catalog.exec_job(name)
        return _render(_df_payload(result), ext)

    @app.route("/workflows/<name>/exec.<ext>", methods=["POST"])
    def workflow_exec(name, ext):
        denied = _require_auth()
        if denied:
            return denied
        results = catalog.exec_workflow(name)
        return _render([_df_payload(r) for r in results], ext)

    @app.route("/layers/<name>/items.<ext>")
    def layer_items(name, ext):
        from railgun_spark.dfl import run_pipeline

        df = catalog.layer_frame(name)
        user_dfl = request.args.get("dfl")
        if user_dfl:
            df = run_pipeline(df, user_dfl)
        try:
            limit = int(request.args.get("limit", 1000))
        except ValueError:
            return _render({"error": "limit must be an integer"}, ext), 400
        # limit < 0 = unlimited, as in ItemsHandler / the tile endpoints
        return _render(_df_payload(df, None if limit < 0 else limit), ext)

    @app.route("/layers/<name>/tiles/data/<int:z>/<int:x>/<int:y>.<ext>")
    def layer_tile_data(name, z, x, y, ext):
        from railgun_spark.geo.serving import feature_collection

        try:
            limit = int(request.args.get("limit", -1))
        except ValueError:
            return _render({"error": "limit must be an integer"}, ext), 400
        user_dfl = request.args.get("dfl")
        feats = catalog.layer_tile_features(
            name, z, x, y, limit=limit, user_dfl=user_dfl
        )

        def encode(feats):
            resp = _render(feature_collection(feats), ext)
            return resp.get_data(), resp.mimetype

        return _encoded(data_bodies, (name, z, x, y, limit, user_dfl, ext), feats, encode)

    @app.route("/layers/<name>/tiles/mask/<int:z>/<int:x>/<int:y>.<ext>")
    def layer_tile_mask(name, z, x, y, ext):
        from railgun_spark.geo.serving import MASK_FORMATS, MASK_MAX_DZ, grid_to_image

        if ext not in MASK_FORMATS:  # png/gif/jpg per RespondWithGrid.go:20-46
            return _render(
                {"error": f"unsupported mask format {ext} (png/gif/jpg)"}, "json"
            ), 404
        try:
            zoom = int(request.args.get("zoom", min(z + 4, 18)))
            threshold = int(request.args.get("threshold", 1))
        except ValueError:
            return Response("zoom and threshold must be integers", status=400)
        if not 0 <= zoom - z <= MASK_MAX_DZ:
            return Response(f"zoom must be within [{z}, {z + MASK_MAX_DZ}]", status=400)
        grid = catalog.layer_mask_grid(
            name, z, x, y, mask_zoom=zoom, threshold=threshold
        )
        return _encoded(
            mask_bodies, (name, z, x, y, zoom, threshold, ext), grid,
            lambda grid: grid_to_image(grid, ext),
        )

    @app.route("/health.<ext>")
    def health_route(ext):
        """Liveness probe — HealthHandler.go:20-33 twin (RailgunRouter.go:54
        registers it bearer-exempt). The reference returns {"status": "ok"};
        we add catalog object counts and Spark session liveness so
        orchestrators can distinguish 'process up' from 'engine usable',
        still in any negotiated format."""
        try:
            spark_active = catalog.spark is not None and not (
                catalog.spark.sparkContext._jsc is None
            )
        except Exception:
            spark_active = False
        counts = {
            plural: len(catalog.list(MODEL_TYPES[kind_name]))
            for plural, kind_name in _PLURAL_TO_KIND.items()
        }
        return _render(
            {"status": "ok", "spark": spark_active, "catalog": counts}, ext
        )

    @app.route("/")
    def home_route():
        """Catalog landing page — HomeHandler.go twin (RailgunRouter.go:50).
        The reference serves an OpenLayers map demo pulling CDN assets; a
        headless engine serves a minimal self-contained HTML index of the
        catalog and API routes instead (no external assets)."""
        rows = "".join(
            f"<li><a href=\"/{plural}.json\">{plural}</a> "
            f"({len(catalog.list(MODEL_TYPES[kind_name]))})</li>"
            for plural, kind_name in _PLURAL_TO_KIND.items()
        )
        html = (
            "<!doctype html><html lang=\"en\"><head><title>railgun_spark"
            "</title></head><body><h1>railgun_spark</h1>"
            "<p>PySpark-native catalog + query server.</p>"
            f"<ul>{rows}</ul>"
            "<p><a href=\"/swagger.json\">swagger</a> · "
            "<a href=\"/health.json\">health</a> · "
            "<a href=\"/dfl/functions.json\">functions</a> · "
            "<a href=\"/gss/formats.json\">formats</a></p>"
            "</body></html>"
        )
        return Response(html, mimetype="text/html")

    @app.route("/swagger.<ext>")
    def swagger_route(ext):
        return _render(_swagger_doc(), ext)

    @app.route("/dfl/functions.<ext>")
    def functions_route(ext):
        return _render(dfl_functions(), ext)

    @app.route("/gss/formats.<ext>")
    def formats_route(ext):
        return _render(sorted(FORMATS), ext)

    return app
