package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with every namespace operation reported to the
  * active [[Tracer]]. Registered for the `file` scheme only in traced runs
  * (through `spark.hadoop.fs.file.impl`), so untraced runs execute the
  * stock class. */
class CountingFileSystem extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    Tracer.fsOp(FsOp.Create, f)
    FsOp.counted(f, super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  overwrite: Boolean, bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    Tracer.fsOp(FsOp.Create, f)
    FsOp.counted(f, super.createNonRecursive(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))
  }

  override def rename(src: Path, dst: Path): Boolean = {
    Tracer.fsOp(FsOp.Rename, dst)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    Tracer.fsOp(FsOp.Delete, f)
    super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    Tracer.fsOp(FsOp.List, f)
    super.listStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    Tracer.fsOp(FsOp.Stat, f)
    super.getFileStatus(f)
  }

  override def mkdirs(f: Path): Boolean = {
    Tracer.fsOp(FsOp.Mkdirs, f)
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    Tracer.fsOp(FsOp.Mkdirs, f)
    super.mkdirs(f, permission)
  }
}

/** The `FileContext` side of the local filesystem (the `_LATEST` pointer
  * swap renames through it), counted the same way. Wraps the stock
  * `LocalFs`, so rename-with-overwrite keeps its native semantics. */
class CountingLocalFs(uri: java.net.URI, conf: Configuration)
    extends FilterFs(CountingLocalFs.stock(uri, conf)) {
  override def createInternal(f: Path, flag: java.util.EnumSet[CreateFlag],
                              absolutePermission: FsPermission, bufferSize: Int,
                              replication: Short, blockSize: Long,
                              progress: Progressable,
                              checksumOpt: Options.ChecksumOpt,
                              createParent: Boolean): FSDataOutputStream = {
    Tracer.fsOp(FsOp.Create, f)
    FsOp.counted(f, super.createInternal(f, flag, absolutePermission,
      bufferSize, replication, blockSize, progress, checksumOpt, createParent))
  }

  override def renameInternal(src: Path, dst: Path): Unit = {
    Tracer.fsOp(FsOp.Rename, dst)
    super.renameInternal(src, dst)
  }

  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    Tracer.fsOp(FsOp.Rename, dst)
    super.renameInternal(src, dst, overwrite)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    Tracer.fsOp(FsOp.Delete, f)
    super.delete(f, recursive)
  }

  override def getFileStatus(f: Path): FileStatus = {
    Tracer.fsOp(FsOp.Stat, f)
    super.getFileStatus(f)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    Tracer.fsOp(FsOp.List, f)
    super.listStatus(f)
  }

  override def mkdir(dir: Path, permission: FsPermission,
                     createParent: Boolean): Unit = {
    Tracer.fsOp(FsOp.Mkdirs, dir)
    super.mkdir(dir, permission, createParent)
  }
}

object CountingLocalFs {
  private def stock(uri: java.net.URI, conf: Configuration): AbstractFileSystem = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    AbstractFileSystem.createFileSystem(uri, c)
  }
}

object FsOp {
  val Create = 0
  val Rename = 1
  val Delete = 2
  val List = 3
  val Stat = 4
  val Mkdirs = 5
  val names: Seq[String] = Seq("create", "rename", "delete", "list", "stat", "mkdirs")

  /** `out`, reporting the bytes written through it when it closes (the
    * file's data; checksum side files are not counted). */
  def counted(f: Path, out: FSDataOutputStream): FSDataOutputStream =
    new FSDataOutputStream(out, null) {
      private var reported = false
      override def close(): Unit = {
        val n = getPos
        super.close()
        if (!reported) { reported = true; Tracer.fsBytes(f, n) }
      }
    }
}
