package flink_streaming_kmeans_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The {@code file://} filesystem with permissions set in-process.
 *
 * <p>Without the native Hadoop library, {@link RawLocalFileSystem#setPermission}
 * forks a {@code chmod} from the driver JVM, and every local create and mkdir
 * calls it: each checkpoint log file, its {@code .crc}, and every file of a
 * parquet write. This class sets the same rwx bits through
 * {@link Files#setPosixFilePermissions}. A mode with the sticky bit, which
 * java.nio cannot express, still takes the stock call. Checksums are
 * unchanged: this is a {@link LocalFileSystem}, so {@code .crc} files are
 * written and verified as before.
 *
 * <p>It keeps the one rule of Hive's {@code ProxyLocalFileSystem}, the class
 * Hadoop resolves for {@code file://} when {@code hive-exec} is on the
 * classpath: {@code rename} onto an existing file returns {@code false} and
 * moves nothing.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  private static final short STICKY = 01000;
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  @Override
  @SuppressWarnings("deprecation") // isFile, as ProxyLocalFileSystem calls it
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  static final class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & STICKY) != 0) {
        super.setPermission(p, permission);
        return;
      }
      // BITS runs owner read ... others execute, i.e. mode bits 8 ... 0.
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << (BITS.length - 1 - i))) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
