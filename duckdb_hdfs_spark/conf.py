"""HDFS connection configuration — Spark-native equivalent of the
reference's ``HDFSParams`` / ``HDFSEnvironmentSettingsProvider``
(hadoopfs.hpp:13-118).

The reference exposes four DuckDB settings (with env-var mirrors):
``hdfs_default_namenode``, ``hdfs_ha_namenodes``,
``hdfs_shortcircuit``, ``hdfs_domain_socket_path``; it caches one
libhdfs3 connection per namenode (hadoopfs.hpp:246-250).

Spark's Hadoop client already implements connection pooling, HA
failover, and short-circuit local reads — the engine work is mapping
the same four knobs onto the right ``spark.hadoop.*`` keys.  This
module produces that mapping; :func:`duckdb_hdfs_spark.session.builder`
applies ``HdfsParams.from_env()``, and other params go through
``apply_hdfs_conf(builder, params)`` before session creation or pass
individual ``fs.*``/``dfs.*`` keys on a live session's
``sparkContext._jsc.hadoopConfiguration()`` (read-only ops only).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

#: env-var names — identical to the reference's
#: HDFSEnvironmentSettingsProvider (hadoopfs.hpp:82-85)
ENV_DEFAULT_NAMENODE = "HDFS_DEFAULT_NAMENODE"
ENV_HA_NAMENODES = "HDFS_HA_NAMENODES"
ENV_SHORTCIRCUIT = "HDFS_SHORTCIRCUIT"
ENV_DOMAIN_SOCKET_PATH = "HDFS_DOMAIN_SOCKET_PATH"
#: kerberos env mirrors — the reference links kerberos/gsasl
#: (CMake/FindKERBEROS.cmake, CMake/FindGSasl.cmake from
#: CMakeLists.txt), so secured clusters are inside its envelope;
#: libhdfs3 reads principal/ticket-cache settings of the same shape.
ENV_KERBEROS_PRINCIPAL = "HDFS_KERBEROS_PRINCIPAL"
ENV_KERBEROS_KEYTAB = "HDFS_KERBEROS_KEYTAB"
ENV_KERBEROS_TICKET_CACHE = "HDFS_KERBEROS_TICKET_CACHE"


def _normalize_namenode(namenode: str) -> str:
    """Match the reference's normalization (hadoopfs.hpp:35-50):
    lowercase; strip a leading ``hdfs://`` scheme and any path suffix,
    keeping ``host[:port]``."""
    namenode = namenode.strip().lower()
    if namenode.startswith("hdfs://"):
        rest = namenode[7:]
        slash = rest.find("/")
        if slash != -1:
            rest = rest[:slash]
        namenode = rest
    return namenode


@dataclass
class HdfsParams:
    """Connection parameters (reference: ``HDFSParams``, hadoopfs.hpp:13-78)."""

    namenode: str = "default"
    #: for NameNode HA: list of ``host:port`` RPC addresses
    ha_namenodes: list[str] = field(default_factory=list)
    #: HA logical nameservice id used when ha_namenodes is non-empty
    nameservice: str = "ns1"
    shortcircuit: bool = False
    domain_socket_path: str = ""
    #: user principal for kerberized clusters (empty = simple auth);
    #: setting it flips ``hadoop.security.authentication`` to kerberos
    kerberos_principal: str = ""
    #: keytab path for non-interactive login (driver + executors)
    kerberos_keytab: str = ""
    #: kinit ticket cache path (libhdfs3:
    #: ``hadoop.security.kerberos.ticket.cache.path``)
    kerberos_ticket_cache: str = ""

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "HdfsParams":
        """Reference: ``HDFSEnvironmentSettingsProvider::SetAll``
        (hadoopfs.hpp:111-117)."""
        env = dict(os.environ if env is None else env)
        p = cls()
        if ENV_DEFAULT_NAMENODE in env:
            p.namenode = _normalize_namenode(env[ENV_DEFAULT_NAMENODE])
        if ENV_HA_NAMENODES in env:
            raw = env[ENV_HA_NAMENODES].strip().lower()
            # normalize each address exactly like the single-namenode
            # path: dfs.namenode.rpc-address.* must be host:port —
            # Hadoop's createSocketAddr rejects a scheme prefix, so an
            # hdfs://-spelled HA list (the shape HDFS_DEFAULT_NAMENODE
            # accepts) would fail every failover (round-7 review)
            p.ha_namenodes = [
                _normalize_namenode(s.strip())
                for s in raw.split(",")
                if s.strip()
            ]
        if ENV_SHORTCIRCUIT in env:
            p.shortcircuit = env[ENV_SHORTCIRCUIT].strip().lower() == "true"
        if ENV_DOMAIN_SOCKET_PATH in env:
            p.domain_socket_path = env[ENV_DOMAIN_SOCKET_PATH]
        if ENV_KERBEROS_PRINCIPAL in env:
            p.kerberos_principal = env[ENV_KERBEROS_PRINCIPAL].strip()
        if ENV_KERBEROS_KEYTAB in env:
            p.kerberos_keytab = env[ENV_KERBEROS_KEYTAB].strip()
        if ENV_KERBEROS_TICKET_CACHE in env:
            p.kerberos_ticket_cache = env[ENV_KERBEROS_TICKET_CACHE].strip()
        return p

    def to_hadoop_conf(self) -> dict[str, str]:
        """Emit the ``spark.hadoop.``-prefixable Hadoop client keys."""
        conf: dict[str, str] = {}
        if self.ha_namenodes:
            ns = self.nameservice
            conf["fs.defaultFS"] = f"hdfs://{ns}"
            conf["dfs.nameservices"] = ns
            ids = [f"nn{i + 1}" for i in range(len(self.ha_namenodes))]
            conf[f"dfs.ha.namenodes.{ns}"] = ",".join(ids)
            for nn_id, addr in zip(ids, self.ha_namenodes):
                # belt-and-braces for directly constructed params: the
                # rpc-address value must be host:port, never hdfs://
                conf[f"dfs.namenode.rpc-address.{ns}.{nn_id}"] = (
                    _normalize_namenode(addr)
                )
            conf[f"dfs.client.failover.proxy.provider.{ns}"] = (
                "org.apache.hadoop.hdfs.server.namenode.ha."
                "ConfiguredFailoverProxyProvider"
            )
        elif self.namenode and self.namenode != "default":
            nn = _normalize_namenode(self.namenode)
            conf["fs.defaultFS"] = f"hdfs://{nn}"
        if self.shortcircuit:
            conf["dfs.client.read.shortcircuit"] = "true"
            if self.domain_socket_path:
                conf["dfs.domain.socket.path"] = self.domain_socket_path
        if self.kerberos_principal:
            conf["hadoop.security.authentication"] = "kerberos"
            # RPC privacy: matches the reference's gsasl-backed SASL
            # link (CMake/FindGSasl.cmake); auth-only is the client
            # default, the server dictates the final QOP.
            conf["hadoop.rpc.protection"] = "authentication"
            if self.kerberos_ticket_cache:
                conf["hadoop.security.kerberos.ticket.cache.path"] = (
                    self.kerberos_ticket_cache
                )
        return conf

    def to_spark_conf(self) -> dict[str, str]:
        conf = {f"spark.hadoop.{k}": v for k, v in self.to_hadoop_conf().items()}
        if self.kerberos_principal:
            # Spark-level keytab login: the driver logs in and ships
            # delegation tokens to executors; principal alone (no
            # keytab) relies on an external kinit ticket cache.
            conf["spark.kerberos.principal"] = self.kerberos_principal
            if self.kerberos_keytab:
                conf["spark.kerberos.keytab"] = self.kerberos_keytab
        return conf


def apply_hdfs_conf(builder, params: HdfsParams):
    """Apply to a ``SparkSession.Builder`` (pre-session)."""
    for k, v in params.to_spark_conf().items():
        builder = builder.config(k, v)
    return builder


def parse_url(url: str) -> tuple[str, str]:
    """Split ``hdfs://host:port/path`` → ``(path, host:port)``.

    Reference: ``HadoopFileSystem::ParseUrl`` (hadoopfs.hpp:146).
    Non-hdfs URLs pass through with an empty authority so the same
    call sites work for ``file://`` and bare paths.
    """
    if url.startswith("hdfs://"):
        rest = url[7:]
        slash = rest.find("/")
        if slash == -1:
            return "/", rest
        return rest[slash:], rest[:slash]
    if url.startswith("file://"):
        return url[7:] or "/", ""
    return url, ""


def can_handle_file(path: str) -> bool:
    """Reference: ``CanHandleFile`` (hadoopfs.hpp:212) — plus the
    schemes Spark's Hadoop layer serves with the identical API."""
    return path.startswith(("hdfs://", "file://", "viewfs://", "webhdfs://"))


def apply_to_session(spark, params: "HdfsParams") -> dict[str, str]:
    """Apply connection params to a LIVE session's Hadoop
    configuration — the runtime equivalent of the reference's
    ``SET hdfs_default_namenode = ...`` (hadoopfs.hpp:87-108), which
    takes effect for connections opened afterwards.  Spark semantics
    match: FileSystem instances created after this call see the new
    keys (existing cached instances do not — same as the reference's
    per-namenode connection cache).  Returns the applied keys."""
    conf = params.to_hadoop_conf()
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in conf.items():
        hconf.set(k, v)
    return conf
