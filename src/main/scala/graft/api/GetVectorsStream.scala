package graft.api

import org.apache.spark.sql.DataFrame

/** The ONE two-pass streaming core behind `GetVectors` on every transport
  * (gRPC-Web binary, gRPC-Web text, native gRPC/HTTP-2 — the reference
  * streams the same rpc through Kestrel, API.gRPC/Services/VectorService
  * .cs:18-38). The proto has no paging fields and the reply is the whole
  * table, which at engine scale is a driver OOM if buffered, so:
  *
  *  - pass 1 ([[declaredLength]]) sums the encoded per-record sizes from
  *    `toLocalIterator` — O(1) driver memory — so the transport can put
  *    the EXACT total in its single length prefix (a stock unary client
  *    sees one message);
  *  - pass 2 ([[writeGuarded]]) re-iterates and hands each record's
  *    encoding to the transport's `write`, counting every byte against
  *    the declared total — a source that changed between the passes
  *    throws [[GetVectorsStream.LengthMismatch]] BEFORE any clean
  *    end-of-rpc marker can go out, so a divergent stream is always a
  *    loud transport/status error, never a silently-corrupt status-0.
  *
  * Each transport keeps only its own framing (HTTP chunks + optional
  * base64 vs HTTP/2 DATA frames + flow-control flushes) around these two
  * calls — the guard logic has a single source of truth.
  */
private[api] object GetVectorsStream {

  /** Pass 2 disagreed with pass 1's declared byte total (the source
    * changed between passes). Extends IllegalStateException so the
    * HTTP/1.1 server's abort-without-trailers catch sees it unchanged;
    * the HTTP/2 server translates it to grpc-status 13 INTERNAL. */
  final class LengthMismatch(msg: String) extends IllegalStateException(msg)

  private def encodeRecord(row: org.apache.spark.sql.Row): Array[Byte] =
    VectorProto.encodeVectorListItem(
      VectorBinary.toBinary(NeighborlySpark.rowToRecord(row)))

  /** Pass 1: exact encoded byte total, one record in driver memory at a
    * time. */
  def declaredLength(pass: () => DataFrame): Long = {
    val it = pass().toLocalIterator()
    var total = 0L
    while (it.hasNext) total += encodeRecord(it.next()).length
    total
  }

  /** Pass 2: encode each record and hand it to `write`, enforcing the
    * byte-count guard against `declared` (throws [[LengthMismatch]] the
    * moment the stream would overrun, and after the last record if it
    * fell short). */
  def writeGuarded(pass: () => DataFrame, declared: Long)(write: Array[Byte] => Unit): Unit = {
    var written = 0L
    val it = pass().toLocalIterator()
    while (it.hasNext) {
      val item = encodeRecord(it.next())
      if (written + item.length > declared)
        throw new LengthMismatch(
          s"GetVectors pass 2 exceeds declared length $declared B (source changed between passes)")
      write(item)
      written += item.length
    }
    if (written != declared)
      throw new LengthMismatch(
        s"GetVectors pass 2 wrote $written B, declared $declared B (source changed between passes)")
  }
}
